package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.Layout

/** Measures the bucketed-layout amortization claim behind
  * `layout_bucketed_join`: pay the shuffle ONCE at write time, then every
  * subsequent fact-fact join on the bucket key runs exchange-free. The
  * readout is (write cost, per-join cost bucketed, per-join cost plain
  * SMJ) and the break-even join count — the number a platform team
  * actually uses to decide whether a recurring join earns bucketing.
  *
  * `blowup` N replicates both fact tables N× with key-space-disjoint ids
  * (the CrossoverBench pattern), so the join-size axis scales while the
  * key distribution stays fixture-shaped.
  *
  * Usage: runMain graft.tools.BucketedBench [sfDir] [reps] [blowup]
  */
object BucketedBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val blowup = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.builder(GraftSession.cpus)
      // the A/B must compare bucketed-SMJ vs shuffled-SMJ, not vs a
      // broadcast that only exists because the fixture is small
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def blow(df: DataFrame, key: String): DataFrame =
      if (blowup <= 1) df
      else (0 until blowup).map { k =>
        if (k == 0) df else df.withColumn(key, col(key) + lit(k * 100000000L))
      }.reduce(_ unionByName _)

    val li = blow(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity")), "l_orderkey")
    val ord = blow(spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    // land both as plain parquet first so the two arms read identical files
    val liPath = graft.etl.Scratch.path(spark, "bb_li_plain")
    val ordPath = graft.etl.Scratch.path(spark, "bb_ord_plain")
    li.write.mode("overwrite").parquet(liPath)
    ord.write.mode("overwrite").parquet(ordPath)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def rollup(l: DataFrame, o: DataFrame): Long =
      l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
        .collect().length

    // write-time cost: the one-off bucketed landing of both tables
    val tWrite = (1 to reps).map(_ => time {
      Layout.bucketedWrite(spark.read.parquet(liPath), "bb_li_b",
        graft.etl.Scratch.path(spark, "bb_li_bucketed"), "l_orderkey", Layout.JoinBuckets)
      Layout.bucketedWrite(spark.read.parquet(ordPath), "bb_ord_b",
        graft.etl.Scratch.path(spark, "bb_ord_bucketed"), "o_orderkey", Layout.JoinBuckets)
    }).min
    // per-join cost, bucketed (no exchange below the join)
    val tBucketed = (1 to reps).map(_ => time {
      spark.catalog.clearCache()
      rollup(spark.table("bb_li_b"), spark.table("bb_ord_b"))
    }).min
    // per-join cost, plain parquet (both sides shuffle into the SMJ)
    val tPlain = (1 to reps).map(_ => time {
      spark.catalog.clearCache()
      rollup(spark.read.parquet(liPath), spark.read.parquet(ordPath))
    }).min
    val perJoinSave = tPlain - tBucketed
    val breakEven = if (perJoinSave > 0) math.ceil(tWrite / perJoinSave).toInt else -1
    println(f"[bucketed] sf=$sfDir blowup=$blowup rows=${spark.read.parquet(liPath).count()} " +
      f"write_once=$tWrite%.2fs join_bucketed=$tBucketed%.2fs join_plain=$tPlain%.2fs " +
      f"save_per_join=$perJoinSave%.2fs break_even_joins=$breakEven")
    spark.sql("DROP TABLE IF EXISTS bb_li_b")
    spark.sql("DROP TABLE IF EXISTS bb_ord_b")
    graft.etl.Scratch.cleanAll(spark)
    spark.stop()
  }
}
