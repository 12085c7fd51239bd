package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Measured comparison of the three answers to a skewed equi-join
  * (SCALE.md): (a) static plan, AQE off — the degenerate baseline where
  * one task owns the hot key; (b) AQE skew-join split at runtime;
  * (c) the deterministic salted join (ops.Skew). All three return
  * identical results (SkewJoinSpec proves equality); this tool measures
  * them on a fact table whose hot key holds ~90% of the rows.
  *
  * Usage: runMain graft.tools.SkewBench [rows] [reps]   (default 5e6, 3)
  */
object SkewBench {

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def data(spark: SparkSession, rows: Long): (DataFrame, DataFrame) = {
    val fact = spark.range(0, rows)
      .select(
        when(col("id") % 10 < 9, 0L).otherwise(pmod(col("id"), lit(999L)) + 1L).as("k"),
        (col("id") % 97).as("v"))
    val dim = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 31 % 101).as("w"))
    (fact, dim)
  }

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 5000000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus)
      // force the shuffle join: broadcasting the dim would erase the skew
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (fact, dim) = data(spark, rows)
    def run(df: DataFrame): Unit = { df.write.format("noop").mode("overwrite").save() }
    def best(label: String, conf: Map[String, String])(mk: => DataFrame): Double = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val t = (1 to reps).map(_ => timed(run(mk))).min
      println(f"$label%-28s $t%6.2f s (best of $reps)")
      t
    }
    val aqeOff = Map("spark.sql.adaptive.enabled" -> "false")
    val aqeSkew = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB")
    println(s"skewed join: $rows fact rows, 90% on one key, dim=1000, local[$cpus]")
    best("static (AQE off)", aqeOff)(fact.join(dim, Seq("k")))
    best("AQE skew-join split", aqeSkew)(fact.join(dim, Seq("k")))
    best("salted join (factor=32)", aqeOff)(
      graft.ops.Skew.saltedJoin(fact, dim, "k", factor = 32))
    spark.stop()
  }
}
