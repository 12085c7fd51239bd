package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scale-up measurement for the chain surface (SCALE.md): the full ETL
  * write path (extract→flatten→dedup→bucketed write, Load.ingest) and a
  * representative analytic bundle over the written warehouse (gas rollup,
  * per-sender activity, token-balance ledger, referential-integrity
  * audit), each timed at growing block ranges. The claim under test:
  * both paths are linear in chain length — the ETL is a narrow
  * per-partition pipeline and every query shuffles on a natural key
  * once — so 10× blocks costs ≤ ~12× wall time (sublinear in local mode
  * as fixed job overheads amortize).
  *
  * Usage: runMain graft.tools.ChainScaleBench [blockCounts...]
  * (default: 1000 5000 10000 — 1×/5×/10× of the reference flush unit)
  */
object ChainScaleBench {

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The query bundle over a written warehouse — reads parquet, so this
    * times plan cost at each scale, not the generator. */
  def queryBundle(spark: SparkSession, wh: String): Unit = {
    val tx = spark.read.parquet(s"$wh/transactions")
    val ev = spark.read.parquet(s"$wh/events")
    val b = spark.read.parquet(s"$wh/blocks")
    val wd = spark.read.parquet(s"$wh/withdraws")
    // gas rollup per 100-block bucket
    tx.groupBy(floor(col("blockNumber") / 100).cast("long").as("r"))
      .agg(count(lit(1)), sum(col("gasUsed").cast("long"))).count()
    // per-sender activity
    tx.groupBy(hex(col("from")))
      .agg(count(lit(1)), min(col("blockNumber")), max(col("blockNumber")),
        sum(col("gasUsed").cast("long"))).count()
    // token balances from 3-topic transfer logs
    val tr = ev.filter(size(col("topics")) === 3)
      .select(hex(col("address")).as("token"),
        hex(expr("substring(topics[1], 13, 20)")).as("from_addr"),
        hex(expr("substring(topics[2], 13, 20)")).as("to_addr"),
        expr("CAST(conv(hex(substring(data, length(data) - 6, 7)), 16, 10) AS BIGINT)").as("amount"))
    tr.select(col("token"), col("to_addr").as("h"), col("amount").as("in"), lit(0L).as("out"))
      .unionByName(tr.select(col("token"), col("from_addr").as("h"), lit(0L).as("in"), col("amount").as("out")))
      .groupBy(col("token"), col("h"))
      .agg(sum(col("in")) - sum(col("out"))).count()
    // referential integrity: orphan anti-joins
    val orphanTx = tx.join(b.select(col("hash").as("_bh")),
      col("blockHash") === col("_bh"), "left_anti").count()
    val orphanWd = wd.join(b.select(col("hash").as("_bh")),
      col("blockHash") === col("_bh"), "left_anti").count()
    require(orphanTx == 0 && orphanWd == 0, "integrity audit must be clean")
  }

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(1000L, 5000L, 10000L)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def rm(path: String): Unit = {
      val (fs, p) = graft.etl.WarehouseFs.resolve(spark, path)
      graft.etl.WarehouseFs.deleteTree(fs, p)
    }
    // warm-up: first-use codegen + classloading would otherwise pollute
    // the smallest measured cell (observed 7.1s vs 0.8s warm at 1k blocks)
    locally {
      val whW = "/tmp/graft_chain_scale_warmup"
      rm(whW)
      graft.etl.Load.ingest(spark, 0, 199, whW)
      queryBundle(spark, whW)
      rm(whW)
    }
    // ingest decomposed into its two phases (VERDICT r5 item 3): the
    // extract+flatten dag materialized via localCheckpoint, then the
    // bucketed 4-table concurrent write (task write + dynamic-overwrite
    // partition commit) from the materialized inputs — so a superlinear
    // cell can be attributed to compute or to commit, not guessed.
    println(f"${"blocks"}%8s ${"tx rows"}%9s ${"parts"}%6s ${"flatten"}%8s ${"write"}%8s ${"ingest"}%8s ${"blk/s"}%7s ${"queries"}%8s")
    counts.foreach { n =>
      val wh = s"/tmp/graft_chain_scale_$n"
      rm(wh)
      var ck: Map[String, (DataFrame, Seq[String], String)] = Map.empty
      val tFlatten = timed {
        ck = graft.etl.Load.tables(spark, 0, n - 1).map {
          case (name, (df, keys, nc)) => name -> ((df.localCheckpoint(), keys, nc))
        }
      }
      val tWrite = timed(graft.etl.Load.writeAll(ck, wh))
      val tIngest = tFlatten + tWrite
      val txRows = spark.read.parquet(s"$wh/transactions").count()
      val parts = {
        val (fs, p) = graft.etl.WarehouseFs.resolve(spark, s"$wh/transactions")
        graft.etl.WarehouseFs.list(fs, p)
          .count(d => d.isDirectory && d.getPath.getName.startsWith("blockRange="))
      }
      // cold query bundle: drop any cached scans from the ingest read-back
      spark.catalog.clearCache()
      val tQuery = timed(queryBundle(spark, wh))
      println(f"$n%8d $txRows%9d $parts%6d $tFlatten%7.2fs $tWrite%7.2fs $tIngest%7.2fs ${n / tIngest}%7.0f $tQuery%7.2fs")
      rm(wh)
      // Drop this cell's localCheckpoint blocks BEFORE the next cell:
      // leaving them to the async ContextCleaner let earlier cells'
      // blocks pile up in the block manager, and the later (larger)
      // cells measured that pollution as a phantom superlinear cliff
      // (100k: 63-83 s polluted vs 4.9-10.1 s in a clean JVM).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
