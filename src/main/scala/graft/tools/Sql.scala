package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Interactive SQL entry point: every table a user of the engine would
  * query — the TPC-H-ish star schema + events/documents/embeddings from
  * a scale dir AND the four flattened chain tables from the fixture
  * range — registered as temp views, GraftExtensions on (the u256 and
  * poly_hash functions + the TopKPerGroup strategy), then the given SQL
  * runs and pretty-prints. This is the "switch your warehouse queries
  * over" surface: paste a ClickHouse-era query, run it on Spark.
  *
  * Usage: runMain graft.tools.Sql <SQL> [sfDir] [maxRows]
  */
object Sql {

  val StarTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register all views on the session (shared with SqlSpec). */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    StarTables.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    val blocks = graft.etl.ChainFixture.blocks(spark, 0L, 199L)
    val receipts = graft.etl.ChainFixture.receipts(spark, 0L, 199L)
    graft.etl.Flatten.blockRows(blocks).createOrReplaceTempView("chain_blocks")
    graft.etl.Flatten.transactionRows(blocks, receipts)
      .createOrReplaceTempView("chain_transactions")
    graft.etl.Flatten.eventRows(blocks, receipts).createOrReplaceTempView("chain_events")
    graft.etl.Flatten.withdrawalRows(blocks).createOrReplaceTempView("chain_withdraws")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.tools.Sql <SQL> [sfDir] [maxRows]")
    val sql = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val maxRows = if (args.length > 2) args(2).toInt else 50
    val spark = GraftSession.builder(GraftSession.cpus)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerViews(spark, sfDir)
    spark.sql(sql).show(maxRows, truncate = false)
    spark.stop()
  }
}
