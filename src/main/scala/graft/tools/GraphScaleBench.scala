package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.GraphOps

/** Scale-up measurement for the graph kernels (VERDICT r9 item 7): the
  * dedup family has a measured 1×/5×/10× curve (DedupScaleBench); this
  * gives triangles / k-core / k-truss / BFS the same evidence, recording
  * wall time AND total shuffle-write bytes per run so the O(E^1.5)
  * wedge-stream claim and the zero-exchange k-core rounds have a curve
  * instead of a single-sf anecdote.
  *
  * Blow-up: replica k offsets both sides of the (o, p) membership table
  * by k·10⁷ — replicas are VERTEX-DISJOINT copies of the original
  * co-occurrence graph, so nodes, edges, triangles, core sizes and BFS
  * reach all scale exactly ×factor while degree distribution (the skew
  * that drives the wedge cost) is invariant. Sub-linear or super-linear
  * wall-time growth is then attributable to the ALGORITHM, not to a
  * changing graph shape.
  *
  * Usage: runMain graft.tools.GraphScaleBench [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 5 10)
  */
object GraphScaleBench {

  /** Total shuffle bytes written across completed stages — listener
    * events are async, so snapshot AFTER a short settle. */
  private class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  def blowUp(membership: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) membership
    else membership
      .crossJoin(membership.sparkSession.range(0, factor).select(col("id").as("_rep")))
      .select(
        (col("o") + col("_rep") * 10000000L).as("o"),
        (col("p") + col("_rep") * 10000000L).as("p"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 5, 10)
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus)
      // the 100 TB knob under test: per-partition hash-table/sort size
      // scales with |E|/partitions, so the blow-up factors need a
      // matching partition override to measure the ALGORITHM rather
      // than single-JVM memory pressure (A/B recorded in SCALE.md)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    def measured(label: String, factor: Int)(f: => DataFrame): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = f
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let async stage-completion events drain
      val gb = meter.bytes.getAndSet(0L) / 1e9
      println(f"GRAPHSCALE $label%-10s factor=$factor%2d rows=$rows%8d " +
        f"time=$secs%7.2fs shuffle=$gb%7.3f GB")
    }

    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))

    for (factor <- factors) {
      // materialize the blown-up membership once per factor so each
      // kernel pays the same (excluded) input cost
      val m = blowUp(base, factor)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      m.count()
      Thread.sleep(1500)
      meter.bytes.set(0L) // exclude the blow-up's own shuffle
      measured("triangles", factor)(GraphOps.trianglesOf(m))
      // wedge enumeration Σ d(ctr)² scales ×factor under vertex-disjoint
      // replicas (degree distribution invariant) — the HubCap contract's
      // linearity claim under test
      measured("linkpred", factor)(GraphOps.linkPredictionOf(m))
      measured("kcore", factor)(GraphOps.coreDecompositionOf(m))
      measured("ktruss", factor)(GraphOps.ktrussOf(m))
      measured("bfs", factor)(GraphOps.bfsOf(m))
      m.unpersist(blocking = true)
    }

    // Planted hot group (r13 GroupCap contract): the vertex-disjoint
    // blow-up above preserves the tame group-size distribution, so it
    // CANNOT see projection skew. Append one mega-order and measure:
    //  - tri_hot / linkpred_hot: the capped kernels must run at ~base
    //    cost (the group is dropped before the C(k,2) expansion);
    //  - proj_raw_hot: the UNCAPPED projection on a smaller plant
    //    (C(n,2) pairs under ONE shuffle key — the straggler the cap
    //    exists to kill), counted directly for the wall-time contrast.
    val hotN = sys.env.getOrElse("SPARK_GRAFT_HOT_MEMBERS", "100000").toLong
    val rawN = sys.env.getOrElse("SPARK_GRAFT_HOT_RAW", "10000").toLong
    def plant(n: Long): DataFrame = base.unionByName(
      spark.range(0, n).select(lit(99999999L).as("o"),
        (col("id") + 50000000L).as("p")))
    val mh = plant(hotN).persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    mh.count(); Thread.sleep(1500); meter.bytes.set(0L)
    measured(s"tri_hot$hotN", 1)(GraphOps.trianglesOf(mh))
    measured(s"linkpred_hot$hotN", 1)(GraphOps.linkPredictionOf(mh))
    mh.unpersist(blocking = true)
    val mraw = plant(rawN).persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    mraw.count(); Thread.sleep(1500); meter.bytes.set(0L)
    measured(s"proj_raw_hot$rawN", 1) {
      val li = mraw.select(col("o"), col("p")).distinct()
      li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
    }
    mraw.unpersist(blocking = true)
    spark.stop()
  }
}
