package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.queries.{Relational, TimeSeries}

/** Scale-up measurement for the rank-statistics family (VERDICT r12
  * item 7): Mann-Whitney / Spearman / KS document BIGINT bounds and a
  * histogram-sized-join shape, but had single-sf measurements only.
  * Same recipe as GraphScaleBench: replica k offsets user ids by
  * k·10⁹ — replicas are USER-DISJOINT copies, so per-user rows scale
  * exactly ×factor while the per-user value distribution is invariant
  * (the distinct-value histogram, the thing the operators' cost is
  * supposed to be sized by, grows far slower than the user count —
  * which is precisely the claim under test: shuffle should track the
  * HISTOGRAM, not the corpus).
  *
  * Usage: runMain graft.tools.StatScaleBench [sfDir] [factors...]
  * (defaults: sf0.1, factors 1 5 10)
  */
object StatScaleBench {

  private class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  private def blowUp(perUser: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) perUser
    else {
      val cols = perUser.columns.filterNot(_ == "user_id").map(col)
      perUser
        .crossJoin(perUser.sparkSession.range(0, factor).select(col("id").as("_rep")))
        // 10⁷ offset: user-disjoint replicas while keeping ids small
        // enough for the arm coin's user_id·HashA product (its own
        // BIGINT bound, documented at the operator)
        .select((col("user_id") + col("_rep") * 10000000L).as("user_id") +: cols: _*)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 5, 10)
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    def measured(label: String, factor: Int)(f: => DataFrame): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = f.count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let async stage-completion events drain
      val mb = meter.bytes.getAndSet(0L) / 1e6
      println(f"STATSCALE $label%-14s factor=$factor%2d rows=$rows%4d " +
        f"time=$secs%7.2fs shuffle=$mb%9.3f MB")
    }

    val ev = Relational.events(spark, sfDir)
    val spend = ev.groupBy(col("user_id"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .localCheckpoint() // blow-up input materialized once: the sweep measures the operator
    val both = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
      .localCheckpoint()

    for (factor <- factors) {
      measured("mann_whitney", factor)(TimeSeries.mannWhitneyOf(blowUp(spend, factor)))
      measured("spearman", factor)(TimeSeries.spearmanOf(blowUp(both, factor)))
      measured("ks_test", factor)(TimeSeries.ksTestOf(blowUp(spend, factor)))
    }
    spark.stop()
  }
}
