package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PureLogicSpec extends AnyFunSuite {

  private def ms(xs: Int*): Seq[Double] = xs.map(_.toDouble)

  test("a percentile needs ten samples beyond it") {
    assert(Stats.percentile(ms(1 to 19: _*), 0.5).isEmpty)
    assert(Stats.percentile(ms(1 to 20: _*), 0.5).contains(10.0))
    assert(Stats.percentile(ms(1 to 99: _*), 0.9).isEmpty)
    assert(Stats.percentile(ms(1 to 100: _*), 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    // order of the samples does not matter
    assert(Stats.percentile(ms(20 to 1 by -1: _*), 0.5).contains(10.0))
  }

  test("a percentile line always carries the sample count") {
    val shown = Stats.describe("op_p50_ms", ms(1 to 20: _*), 0.5, "ms")
    val withheld = Stats.describe("op_p90_ms", ms(1 to 20: _*), 0.9, "ms")
    assert(shown.contains("10.0000 ms") && shown.contains("(n=20)"))
    assert(withheld.contains("n/a") && withheld.contains("n=20"))
  }

  test("self times of nested spans sum to the root, also with overlapping siblings") {
    // op [0,100): phases [0,40) and [40,100); two overlapping jobs in the
    // second phase, [50,80) and [60,90); one stage [55,70) in the first job
    val self = Intervals.selfTimes((0L, 100L), Seq(
      Seq((0L, 40L), (40L, 100L)),
      Seq((50L, 80L), (60L, 90L)),
      Seq((55L, 70L))))
    assert(self == Seq(0L, 60L, 25L, 15L))
    assert(self.sum == 100L)
  }

  test("self times clip children to their parents and count uncovered time as the root's own") {
    // phase leaves [90,100) uncovered; a job sticks out past the phase
    val self = Intervals.selfTimes((0L, 100L), Seq(Seq((0L, 90L)), Seq((80L, 120L)), Nil))
    assert(self == Seq(10L, 80L, 10L, 0L))
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
  }

  test("metric names use only letters, digits, '_', '.' and '-'") {
    Seq("setup_s", "op_p50_ms", "spark.jobs_per_op", "sources.rpc_calls_per_block", "a-b.c_1")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a b", "a/b", "a:b", "x" * 65).foreach(n => assert(!Stats.validName(n), n))
    intercept[IllegalArgumentException](
      Stats.resultLine(true, 1, 0, Seq(Stats.Metric("bad name", 1.0, "s"))))
  }

  test("BENCHMARK.json declares exactly the metrics a run emits, with their units") {
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def declared(key: String) =
      json.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toList
    val w = new Registered("analytics", null, 1, "root", Mix.Analytics, Map.empty)
    val report = new Report(w, Nil, Nil, Nil, (Nil, Nil, Nil, Nil))
    assert(declared("end_to_end").sorted == report.endToEnd(1.0).map(m => m.name -> m.unit).sorted)
    assert(declared("per_layer") == report.perLayer(0, 0, 0).map(m => m.name -> m.unit))
    (declared("end_to_end") ++ declared("per_layer")).foreach(m => assert(Stats.validName(m._1), m._1))
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toList == Workload.Names)
  }

  test("the result line holds exactly the contract keys and every digit") {
    val line = Stats.resultLine(true, 3, 0, Seq(Stats.Metric("setup_s", 1.0 / 3, "s")))
    assert(line.startsWith("""{"correct": true, "attempted": 3, "failed": 0, "metrics": {"setup_s": """))
    assert(line.contains("0.3333333333333333"))
  }

  test("the same seed gives the same op order and fixture range; another seed does not") {
    def order(seed: Long) =
      new Registered("analytics", null, seed, "root", Mix.Analytics, Map.empty).ops.map(_.name)
    assert(order(7) == order(7))
    assert(order(7) != order(8))
    assert(order(7).sorted == Mix.Analytics.map(_._1).sorted)
    assert(ChainIngest.firstBlock(7) == ChainIngest.firstBlock(7))
    assert(ChainIngest.firstBlock(7) != ChainIngest.firstBlock(8))
    assert(ChainIngest.firstBlock(7) % graft.etl.Load.Batch == 0)
  }

  test("the same seed gives byte-identical stub payloads") {
    val first = ChainIngest.firstBlock(11)
    val a = new ChainPayloads(first until first + 40, 2)
    val b = new ChainPayloads(first until first + 40, 3)
    assert(a.fingerprint() == b.fingerprint())
    assert((first until first + 40).forall(n => java.util.Arrays.equals(a.block(n).get, b.block(n).get)))
    val other = new ChainPayloads(first + 1000 until first + 1040, 2)
    assert(a.fingerprint() != other.fingerprint())
  }

  test("the stub node serves the fixture over JSON-RPC and counts what it serves") {
    val p = new ChainPayloads(5000L until 5010L, 2)
    val node = new StubNode(p, 2)
    try {
      val f = new graft.sources.HttpJsonRpcFetcher(node.url)
      val n = 5003L
      assert(graft.RpcStubWire.blockJson(f.blockWithTxs(n)) ==
        graft.RpcStubWire.blockJson(graft.etl.ChainFixture.genBlock(n)))
      assert(f.blockReceipts(n).receipts.size == graft.etl.ChainFixture.genReceipts(n).receipts.size)
      val (calls, bytes) = node.totals()
      assert(calls == 2 && bytes > p.block(n).get.length)
      assert(p.expectedRows(5000, 5009)("blocks") == 10)
    } finally node.close()
  }
}
