package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's outlier-confirmation machinery (VERDICT r14 "what's
  * wrong #3"): every raw `vs_baseline` reading above the threshold gets
  * an isolated fresh-JVM re-measure recorded as `confirmed_vs_baseline`
  * in BENCH.out.json, and the regression gate reads the confirmed
  * ratio. No Spark session needed — the selection and the wire format
  * are pure functions.
  */
class BenchConfirmSpec extends AnyFunSuite {

  test("confirmCandidates: exactly the >threshold ratios, name-sorted") {
    val ratios = Seq("zeta" -> 1.81, "alpha" -> 0.72, "mid" -> 1.30, "beta" -> 1.31)
    // 1.30 is NOT a candidate (strictly greater than), 1.31 is
    assert(Bench.confirmCandidates(ratios) == Seq("beta", "zeta"))
    assert(Bench.confirmCandidates(Seq("a" -> 1.0)) == Seq.empty)
    // the threshold itself is part of the artifact contract
    assert(Bench.ConfirmThreshold == 1.3)
  }

  test("Probe json line roundtrips through parseTimeJson; noise is skipped") {
    val lines = Seq(
      "22:35:23 WARN NativeCodeLoader: log noise",
      tools.Probe.jsonLine("media_audio_neardup", 0.7234),
      "[time] media_audio_neardup best=0.72s rows=5 all=[0.72]",
      tools.Probe.jsonLine("graph_ppr", 2.891),
      "{\"name\":\"untagged\",\"best\":9.9}", // no tag -> ignored
      tools.Probe.JsonTag + "{malformed") // tagged but broken -> dropped
    val parsed = Bench.parseTimeJson(lines)
    assert(parsed == Map("media_audio_neardup" -> 0.723, "graph_ppr" -> 2.891))
  }
}
