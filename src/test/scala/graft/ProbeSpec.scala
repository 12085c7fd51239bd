package graft

import java.io.ByteArrayOutputStream

import graft.PlanQualitySpec.PinnedShuffles
import graft.ops.{GraphOps, SharedTables}
import graft.tools.Probe

/** The per-query probe measures the way the sweep does: a throwing query
  * costs only its own samples, every rep leaves nothing but the shared
  * tables persisted, and the confirmation fork really runs it. */
class ProbeSpec extends SparkSuite {

  private def named(ns: String*): Seq[(String, Probe.Query)] =
    ns.map(n => n -> SparkEntry.queries(n))

  /** What `body` prints, with its result. */
  private def printed[T](body: => T): (T, String) = {
    val out = new ByteArrayOutputStream()
    val r = Console.withOut(out)(body)
    (r, out.toString("UTF-8"))
  }

  /** Persisted RDDs that are not shared tables: none may outlive a rep. */
  private def leftover: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- SharedTables.protectedIds(spark)

  test("time: a throwing query loses only its own samples, and there is no total") {
    val fake: Probe.Query = (_, _) => sys.error("fake query fails")
    val queries = named("q01_pricing_summary") ++ Seq("fake" -> fake) ++ named("graph_triangles")
    val (samples, out) = printed(Probe.time(spark, sf, 2, queries))
    assert(samples.keySet == Set("q01_pricing_summary", "graph_triangles"))
    assert(samples.values.forall(xs => xs.size == 2 && xs.forall { case (rows, t) => rows > 0 && t > 0 }))
    assert(out.contains("failures=2 codegen_compiles="), out)
    assert(!out.contains("total_best"), out)
    assert(Bench.parseTimeJson(out.linesIterator.toSeq).keySet == samples.keySet)
    assert(leftover.isEmpty)
  }

  test("ab: the two sessions' shared tables survive each other's releases") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val arms = Seq("default" -> spark, "set" -> alt)
    val queries = named("graph_triangles")
    // each session's entry is stamped with its own measured build time: a
    // table released by the other session's rep is rebuilt and restamped
    def builds = Seq(spark, alt).map(GraphOps.sharedBuildSeconds(_).get(sf))
    printed(Probe.ab(arms, sf, 1, queries))
    val first = builds
    assert(first.forall(_.nonEmpty), first)
    val (_, out) = printed(Probe.ab(arms, sf, 1, queries))
    assert(builds == first)
    assert(out.contains("graph_triangles") && out.contains(" set "), out)
    assert(leftover.isEmpty)
  }

  test("jobs: profiles one warm rep and leaves only the shared tables") {
    val (_, out) = printed(Probe.jobs(spark, sf, named("graph_triangles")))
    val header = out.linesIterator.find(_.contains("===== graph_triangles")).getOrElse(fail(out))
    assert("jobs=([0-9]+)".r.findFirstMatchIn(header).exists(_.group(1).toInt > 0), header)
    assert(out.contains("sum(jobs)="), out)
    assert(leftover.isEmpty)
  }

  test("plan prints the shuffle counts PlanQualitySpec pins") {
    val names = Seq("q01_pricing_summary", "q03_join_broadcast", "q04_join_shuffle",
      "q25_sessionization", "q30_topk_custom_operator", "dedup_exact",
      "dedup_minhash_lsh", "dedup_minhash_oph")
    val (_, out) = printed(Probe.plan(spark, sf, named(names: _*)))
    val Line = """(\S+)\s+shuffles=\s*(\d+) .*""".r
    val counts = out.linesIterator.collect { case Line(n, c) => n -> c.toInt }.toMap
    assert(counts == names.map(n => n -> PinnedShuffles(n)).toMap, out)
  }

  test("the confirmation fork runs Probe time and returns a best") {
    val best = Bench.freshJvmBest(Seq("q01_pricing_summary"), sf)
    assert(best.get("q01_pricing_summary").exists(_ > 0), best)
  }
}
