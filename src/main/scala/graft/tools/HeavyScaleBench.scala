package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{FilterOps, GraphOps, SimilarityOps}

/** One-decade blow-up for the board's top-cost representatives
  * (VERDICT r14 item 5): the existing family benches cover dedup
  * (DedupScaleBench 1/5/10×) and the graph kernels post-projection
  * (GraphScaleBench); this adds the four heavy paths that had no 10×
  * (≈ sf1) point of their own:
  *
  *  - `cotables`  — the shared co-occurrence projection BUILD
  *    (GroupCap-capped membership → pairs → deg → support edges), the
  *    cost all nine graph kernels amortize;
  *  - `linkpred`  — end-to-end custom-membership link prediction
  *    (projection build + HubCap wedge scoring), the board's most
  *    expensive single query;
  *  - `chidag`    — the r15 shuffle-free quality-metric DAG consumed
  *    by the χ² independence audit (per-row text algebra → lang pivot);
  *  - `bitext`    — post-fix bitext mining: the A side is
  *    ProbeCutoff-bounded and the |B|-side frames joins are UNHINTED,
  *    so per-shard work must grow ×factor (|B| × probes), not worse.
  *
  * Blow-ups preserve the distribution that drives each cost: vertex-
  * disjoint membership replicas (degree distribution invariant, the
  * GraphScaleBench construction), doc replicas with offset ids (text
  * unchanged ⇒ per-doc metric cost invariant), embedding replicas with
  * offset vec_ids (only replica 0 holds probe ids < ProbeCutoff ⇒ the
  * A side stays FIXED while B grows ×factor — exactly the operator's
  * stated design point).
  *
  * Usage: runMain graft.tools.HeavyScaleBench [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 10; reps=2 min via SPARK_GRAFT_REPS)
  */
object HeavyScaleBench {

  private class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  def blowUpDocs(docs: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) docs
    else docs.crossJoin(docs.sparkSession.range(0, factor).select(col("id").as("_rep")))
      .withColumn("doc_id", col("doc_id") + col("_rep") * 10000000L)
      .drop("_rep")

  def blowUpEmb(emb: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) emb
    else emb.crossJoin(emb.sparkSession.range(0, factor).select(col("id").as("_rep")))
      .withColumn("vec_id", col("vec_id") + col("_rep") * 10000000L)
      .drop("_rep")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    def unpersistAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))

    def measured(label: String, factor: Int)(f: => DataFrame): Unit = {
      val runs = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        unpersistAll() // each rep pays its own projection builds
        Thread.sleep(1000)
        meter.bytes.set(0L)
        val t0 = System.nanoTime()
        val rows = f.count()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // let async stage-completion events drain
        (secs, meter.bytes.get() / 1e9, rows)
      }
      val best = runs.minBy(_._1)
      println(f"HEAVYSCALE ${label}%-9s factor=$factor%2d rows=${best._3}%8d " +
        f"time=${best._1}%7.2fs shuffle=${best._2}%7.3f GB loadavg=${loadavg()}")
    }

    def loadavg(): String =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split(" ").head
      catch { case scala.util.control.NonFatal(_) => "-1" }

    val membership = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    for (factor <- factors) {
      val m = GraphScaleBench.blowUp(membership, factor)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      m.count()
      measured("cotables", factor) { GraphOps.coTablesOf(m).se }
      measured("linkpred", factor) { GraphOps.linkPredictionOf(m) }
      m.unpersist(blocking = true)
      val d = blowUpDocs(docs, factor)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      d.count()
      measured("chidag", factor) { FilterOps.chiSquareOf(d) }
      d.unpersist(blocking = true)
      val e = blowUpEmb(emb, factor)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      e.count()
      measured("bitext", factor) { SimilarityOps.bitextMiningOf(e) }
      e.unpersist(blocking = true)
    }
    spark.stop()
  }
}
