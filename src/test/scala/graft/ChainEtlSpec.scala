package graft

import org.apache.spark.sql.functions._

import graft.etl.{ChainFixture, Dedup, Flatten}
import graft.types.Schemas

class ChainEtlSpec extends SparkSuite {

  private val From = 0L
  private val To = 49L
  private lazy val blocks = ChainFixture.blocks(spark, From, To)
  private lazy val receipts = ChainFixture.receipts(spark, From, To)

  /** expected tx count from the generator: (n % 5) + 1 per block. */
  private val expectedTx = (From to To).map(n => (n % 5) + 1).sum

  test("C1: block->transactions flatten count and positional index") {
    val tx = Flatten.transactionRows(blocks, receipts)
    assert(tx.count() == expectedTx)
    // transactionIndex reproduces enumerate(): dense 0..n-1 per block
    val bad = tx.groupBy("blockNumber")
      .agg(count(lit(1)).as("n"), max(col("transactionIndex")).as("mx"),
        min(col("transactionIndex")).as("mn"),
        countDistinct(col("transactionIndex")).as("nd"))
      .filter(col("mx") =!= col("n") - 1 || col("mn") =!= 0 || col("nd") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("C2: zip join equals defensive equi-join, even with shuffled receipts") {
    import spark.implicits._
    val zip = Flatten.transactionRows(blocks, receipts)
    val joined = Flatten.transactionRowsJoined(blocks, receipts)
    assert(zip.except(joined).count() == 0)
    assert(joined.except(zip).count() == 0)
    // shuffle the receipt arrays: equi-join must still align correctly
    val shuffled = receipts.map(br => br.copy(receipts = br.receipts.reverse))
    val joinedShuffled = Flatten.transactionRowsJoined(blocks, shuffled)
    assert(joinedShuffled.except(joined).count() == 0)
    assert(joined.except(joinedShuffled).count() == 0)
  }

  test("C3: receipt->events nested flatten matches generator log counts") {
    val ev = Flatten.eventRows(blocks, receipts)
    val expected = (From to To).flatMap { n =>
      (0 until ((n % 5) + 1).toInt).map(j => (n + j) % 3)
    }.sum
    assert(ev.count() == expected)
    // denormalized parent attrs present on every row (B8)
    assert(ev.filter(col("blockHash").isNull || col("blockTimestamp").isNull).count() == 0)
  }

  test("C4: withdrawals only exist post-Shanghai; explode of null = no rows") {
    val wd = Flatten.withdrawalRows(blocks)
    assert(wd.filter(col("blockNumber") < ChainFixture.ShanghaiAt).count() == 0)
    val expected = (ChainFixture.ShanghaiAt to To).map(n => (n % 3) + 1).sum
    assert(wd.count() == expected)
  }

  test("B1: schema of flattened tables matches the DDL contract") {
    assert(Flatten.blockRows(blocks).schema.fields.map(_.name).toSeq ==
      Schemas.blocks.fields.map(_.name).toSeq)
    assert(Flatten.transactionRows(blocks, receipts).schema.fields.map(_.name).toSeq ==
      Schemas.transactions.fields.map(_.name).toSeq)
    assert(Flatten.eventRows(blocks, receipts).schema.fields.map(_.name).toSeq ==
      Schemas.events.fields.map(_.name).toSeq)
    assert(Flatten.withdrawalRows(blocks).schema.fields.map(_.name).toSeq ==
      Schemas.withdraws.fields.map(_.name).toSeq)
  }

  test("EIP-658: root xor status on transactions (pre/post boundary)") {
    val tx = Flatten.transactionRows(blocks, receipts)
    val pre = tx.filter(col("blockNumber") < ChainFixture.Eip658At)
    val post = tx.filter(col("blockNumber") >= ChainFixture.Eip658At)
    assert(pre.filter(col("root").isNull || col("status").isNotNull).count() == 0)
    assert(post.filter(col("status").isNull || col("root").isNotNull).count() == 0)
  }

  test("u256 binary sum agrees with the decimal projection on chain values") {
    val row = graft.queries.ChainQueries.chainU256(spark, sf).collect()(0)
    val dec = BigInt(row.getAs[String]("total_value_wei"))
    val bin = BigInt(row.getAs[String]("total_value_u256"))
    assert(dec == bin)
  }

  test("D5: dedup of doubled ingest is idempotent (exact + deterministic)") {
    val one = Flatten.blockRows(blocks)
    val two = one.unionByName(Flatten.blockRows(ChainFixture.blocks(spark, From, To)))
    assert(Dedup.exact(two, Schemas.dedupKeys("blocks")).count() == one.count())
    val det = Dedup.deterministic(two, Schemas.dedupKeys("blocks"), Seq(col("timestamp")))
    assert(det.count() == one.count())
    assert(det.except(one).count() == 0)
  }

  test("JSON interchange roundtrips the blocks table losslessly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val b = Flatten.blockRows(blocks)
    graft.etl.Load.writeJson(b, s"$dir/blocks_json")
    val back = graft.etl.Load.readJson(spark, s"$dir/blocks_json", Schemas.blocks)
    assert(back.count() == b.count())
    assert(back.except(b).count() == 0 && b.except(back).count() == 0)
  }

  test("CSV export encodes binaries as hex and preserves row count") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val wd = Flatten.withdrawalRows(blocks)
    graft.etl.Load.writeCsv(wd, s"$dir/withdraws_csv")
    val back = spark.read.option("header", "true").csv(s"$dir/withdraws_csv")
    assert(back.count() == wd.count())
    // hex(address) decodes back to the original 20-byte address
    val joined = back.select(col("blockNumber").cast("long").as("blockNumber"),
        col("index").cast("long").as("index"), unhex(col("address")).as("address"))
      .join(wd.select(col("blockNumber"), col("index"), col("address").as("orig")),
        Seq("blockNumber", "index"))
    assert(joined.filter(not(col("address") === col("orig"))).count() == 0)
  }

  test("HLL approx distinct stays within 5% of exact") {
    import org.apache.spark.sql.functions._
    val q31 = graft.queries.Relational.q31(spark, sf)
    // the query now surfaces the bound as a graded flag; all groups pass
    val bad = q31.filter(col("within_5pct") =!= 1L)
    assert(bad.count() == 0, q31.collect().mkString(","))
  }

  test("bucketed tables join with no shuffle exchange") {
    import org.apache.spark.sql.functions._
    // managed tables land in the default warehouse; clear leftovers from
    // any previously failed run, DROP below cleans up on success
    spark.sql("DROP TABLE IF EXISTS tx_b"); spark.sql("DROP TABLE IF EXISTS ev_b")
    Seq("tx_b", "ev_b").foreach { t =>
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) { def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete() }; del(loc) }
    }
    val tx = Flatten.transactionRows(blocks, receipts)
    val ev = Flatten.eventRows(blocks, receipts)
    graft.etl.Load.writeBucketedTable(tx, "tx_b", "blockNumber", 4, Seq("blockNumber"))
    graft.etl.Load.writeBucketedTable(ev, "ev_b", "blockNumber", 4, Seq("blockNumber"))
    val joined = spark.table("tx_b").groupBy("blockNumber").agg(count(lit(1)).as("ntx"))
      .join(spark.table("ev_b").groupBy("blockNumber").agg(count(lit(1)).as("nev")),
        Seq("blockNumber"))
    // bucketing must eliminate the groupBy/join SHUFFLES; a tiny
    // BroadcastExchange on one side is fine (and desirable)
    val plan = joined.queryExecution.sparkPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"bucketed join still shuffles:\n$plan")
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.bucketedScan
    }
    assert(scans.nonEmpty && scans.forall(identity), s"scans not bucketed:\n$plan")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS tx_b"); spark.sql("DROP TABLE IF EXISTS ev_b")
  }

  test("validator withdrawals: post-Shanghai only, totals tile the table") {
    import org.apache.spark.sql.functions._
    val vw = graft.queries.ChainQueries.chainValidatorWithdrawals(spark, sf)
    assert(vw.filter(col("first_block") < ChainFixture.ShanghaiAt).count() == 0)
    val wd = Flatten.withdrawalRows(ChainFixture.blocks(spark, 0L, 199L))
    assert(vw.agg(sum(col("n_withdrawals"))).collect()(0).getLong(0) == wd.count())
    val totalGwei = wd.agg(sum(col("amount").cast("long"))).collect()(0).getLong(0)
    assert(vw.agg(sum(col("gwei_total"))).collect()(0).getLong(0) == totalGwei)
  }

  test("top contracts via the custom operator equals the window-function form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val custom = graft.queries.ChainQueries.chainTopContracts(spark, sf)
    val qBlocks = ChainFixture.blocks(spark, 0L, 199L)
    val qReceipts = ChainFixture.receipts(spark, 0L, 199L)
    val counts = Flatten.eventRows(qBlocks, qReceipts)
      .groupBy(floor(col("blockNumber") / 100).cast("long").as("range100"),
        hex(col("address")).as("contract"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("range100"))
      .orderBy(col("n_events").desc, col("contract"))
    val windowed = counts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 3).drop("_rn")
    assert(custom.except(windowed).count() == 0)
    assert(windowed.except(custom).count() == 0)
    assert(custom.count() == 6) // 2 buckets x top-3
  }

  test("block cadence: the fixture's 12s spacing shows up as constant gaps") {
    import org.apache.spark.sql.functions._
    val c = graft.queries.ChainQueries.chainBlockCadence(spark, sf).collect()
    assert(c.length == 2) // query range 0..199 -> two full 100-block buckets
    c.foreach { r =>
      assert(r.getAs[Long]("n_gaps") == 99L) // first block of a bucket has no gap
      assert(r.getAs[Long]("min_gap_s") == 12L)
      assert(r.getAs[Long]("max_gap_s") == 12L)
      assert(r.getAs[Long]("mean_gap_s") == 12L)
    }
  }

  test("fee market: burn + tip decomposes the post-London fee exactly") {
    import org.apache.spark.sql.functions._
    val fm = graft.queries.ChainQueries.chainFeeMarket(spark, sf)
    // the query fixes its own 0..199 range; recompute over the same range
    val qBlocks = ChainFixture.blocks(spark, 0L, 199L)
    val qReceipts = ChainFixture.receipts(spark, 0L, 199L)
    // burn_wei + tip_wei must equal effectiveGasPrice * gasUsed summed over
    // post-London txs: recompute the right side independently
    val tx = Flatten.transactionRows(qBlocks, qReceipts)
      .filter(col("blockNumber") >= ChainFixture.Eip658At)
      .select((col("effectiveGasPrice").cast("long") * col("gasUsed").cast("long")).as("fee"))
    val totalFee = tx.agg(sum(col("fee"))).collect()(0).getLong(0)
    val agg = fm.agg(sum(col("burn_wei")), sum(col("tip_wei")),
      sum(col("n_pre_london"))).collect()(0)
    assert(agg.getLong(0) + agg.getLong(1) == totalFee)
    // pre-London txs are exactly those in blocks below the fork
    val preTx = Flatten.transactionRows(qBlocks, qReceipts)
      .filter(col("blockNumber") < ChainFixture.Eip658At).count()
    assert(agg.getLong(2) == preTx)
    // tips are nonnegative: effective price never below base fee
    assert(fm.filter(col("tip_wei") < 0L || col("max_tip_per_gas") < 0L).count() == 0)
  }

  test("token balances: flows conserve per token and tie out to the decoded transfers") {
    import org.apache.spark.sql.functions._
    val bal = graft.queries.ChainQueries.chainTokenBalances(spark, sf)
    val tr = graft.queries.ChainQueries.chainTransferDecode(spark, sf)
    // every unit in is a unit out of someone else: per-token net is zero
    val nonZero = bal.groupBy(col("token"))
      .agg(sum(col("net_wei")).as("tot"))
      .filter(col("tot") =!= 0L)
    assert(nonZero.count() == 0)
    // ledger totals equal the transfer totals (each transfer appears as
    // exactly one credit and one debit)
    val total = tr.agg(sum(col("amount"))).collect()(0).getLong(0)
    val Row2 = bal.agg(sum(col("wei_in")), sum(col("wei_out"))).collect()(0)
    assert(Row2.getLong(0) == total && Row2.getLong(1) == total)
    assert(bal.filter(col("n_transfers") <= 0L).count() == 0)
  }

  test("transfer decode: every 3-topic log decodes to 20-byte addresses and a nonneg amount") {
    import org.apache.spark.sql.functions.{col, expr, size}
    val decoded = graft.queries.ChainQueries.chainTransferDecode(spark, sf).cache()
    // same fixture range as the query, via the portable events table:
    // 3 topics <=> comma-joined hex has exactly 2 commas
    val ev = graft.queries.ChainQueries.chainTblEvents(spark, sf)
    val threeTopic = ev.filter(
      size(org.apache.spark.sql.functions.split(col("topics"), ",")) === 3)
    assert(decoded.count() == threeTopic.count())
    assert(decoded.count() > 0)
    // 20-byte addresses hex to 40 chars; amounts decode from 7 bytes => [0, 2^56)
    assert(decoded.filter(
      expr("length(from_addr) <> 40 OR length(to_addr) <> 40 OR amount < 0 OR amount >= CAST(pow(2, 56) AS BIGINT)")).count() == 0)
  }

  test("address activity: per-sender profiles partition the tx set and u256 totals agree") {
    val act = graft.queries.ChainQueries.chainAddressActivity(spark, sf).cache()
    // the query runs over the fixed 0..199 fixture range internally
    val tx = Flatten.transactionRows(
      ChainFixture.blocks(spark, 0L, 199L), ChainFixture.receipts(spark, 0L, 199L)).cache()
    assert(act.agg(sum(col("n_tx"))).head.getLong(0) == tx.count())
    // the per-sender U256Sum totals re-assemble to the direct decimal sum
    val direct = tx.agg(sum(graft.types.U256.toDecimal(col("value"))).cast("long")).head.getLong(0)
    assert(act.agg(sum(col("wei_sent"))).head.getLong(0) == direct)
    // per-row sanity: block span ordered, distincts bounded by counts
    assert(act.filter(col("first_block") > col("last_block") ||
      col("n_blocks") > col("n_tx") || col("n_recipients") > col("n_tx")).count() == 0)
  }

  test("D1/D2: bucketed write partitions by floor(number/1000) and re-run overwrites idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    graft.etl.Load.ingest(spark, 0, 30, dir)
    graft.etl.Load.ingest(spark, 0, 30, dir) // re-run same range: same result
    val b = spark.read.parquet(s"$dir/blocks")
    assert(b.count() == 31)
    // partition-dir values read back type-inferred (int), compare numerically
    assert(b.select("blockRange").distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet == Set(0L))
    val tx = spark.read.parquet(s"$dir/transactions")
    assert(tx.count() == (0L to 30L).map(n => (n % 5) + 1).sum)
  }

  test("deleteWhere rewrites only matching partitions and removes exactly the targets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delete").toString
    val path = s"$dir/transactions"
    // 3 ranges: blocks 0-999, 1000-1999, 2000-2499 (Batch=1000)
    val b = ChainFixture.blocks(spark, 0L, 2499L)
    val r = ChainFixture.receipts(spark, 0L, 2499L)
    graft.etl.Load.writeBucketed(
      Flatten.transactionRows(b, r), path, Schemas.dedupKeys("transactions"))
    val before = spark.read.parquet(path).count()
    val range1Files = new java.io.File(s"$path/blockRange=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    // delete a single block's transactions: lives only in range 2
    val (deleted, rewritten) = graft.etl.Load.deleteWhere(
      spark, path, col("blockNumber") === 2100L)
    val expectDeleted = (2100L % 5) + 1 // generator: (n % 5) + 1 txs per block
    assert(deleted == expectDeleted && rewritten == 1L)
    val after = spark.read.parquet(path)
    assert(after.count() == before - expectDeleted)
    assert(after.filter(col("blockNumber") === 2100L).count() == 0)
    // untouched partitions were not rewritten (same files, same mtimes)
    val range1After = new java.io.File(s"$path/blockRange=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(range1After == range1Files)
    // no-match predicate is a no-op
    assert(graft.etl.Load.deleteWhere(spark, path, col("blockNumber") === 99999L) == ((0L, 0L)))
    // null-predicate rows are KEPT, not silently dropped: `to` is null
    // for contract creations, so to = X is NULL for them — deleting on
    // `to` must preserve every creation row
    val creations = after.filter(col("to").isNull).count()
    assert(creations > 0, "fixture should contain contract creations")
    val someTo = after.filter(col("to").isNotNull)
      .select(col("to")).head.getAs[Array[Byte]](0)
    val toMatches = after.filter(col("to") === lit(someTo)).count()
    val (d2, _) = graft.etl.Load.deleteWhere(spark, path, col("to") === lit(someTo))
    assert(d2 == toMatches)
    val afterNull = spark.read.parquet(path)
    assert(afterNull.filter(col("to").isNull).count() == creations,
      "predicate-NULL rows must survive the delete")
  }

  test("compaction merges append debris into sorted files, content-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$dir/transactions_appends"
    // fragment: 5 separate appends, several files each (micro-batch debris)
    (0L to 4L).foreach { k =>
      Flatten.transactionRows(
        ChainFixture.blocks(spark, k * 10, k * 10 + 9),
        ChainFixture.receipts(spark, k * 10, k * 10 + 9))
        .repartition(4)
        .write.mode("append").parquet(path)
    }
    val original = spark.read.parquet(path)
      .select(hex(col("hash"))).collect().map(_.getString(0)).sorted
    val (before, after) = graft.etl.Load.compact(
      spark, path, Schemas.dedupKeys("transactions"), numFiles = 2)
    assert(before >= 20L && after == 2L)
    val compacted = spark.read.parquet(path)
      .select(hex(col("hash"))).collect().map(_.getString(0)).sorted
    assert(compacted.toSeq == original.toSeq)
  }

  test("TableSink is pluggable: JsonLinesSink honors the bucketing contract, content equals ParquetSink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val b = ChainFixture.blocks(spark, 0L, 49L)
    val r = ChainFixture.receipts(spark, 0L, 49L)
    val tx = Flatten.transactionRows(b, r)
    val keys = Schemas.dedupKeys("transactions")
    graft.etl.Load.writeBucketed(tx, s"$dir/pq", keys) // default ParquetSink
    graft.etl.Load.writeBucketed(tx, s"$dir/js", keys, sink = graft.etl.JsonLinesSink)
    graft.etl.Load.writeBucketed(tx, s"$dir/orc", keys, sink = graft.etl.OrcSink)
    // contract (b): same partition layout, idempotent re-run
    assert(new java.io.File(s"$dir/js/blockRange=0").isDirectory)
    assert(new java.io.File(s"$dir/orc/blockRange=0").isDirectory)
    graft.etl.Load.writeBucketed(tx, s"$dir/js", keys, sink = graft.etl.JsonLinesSink)
    // content identity across encodings under the explicit schema
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.select(Schemas.transactions.fieldNames.map(col).toIndexedSeq: _*)
    val viaJson = cols(graft.etl.JsonLinesSink.read(spark, s"$dir/js", Schemas.transactions))
    val viaOrc = cols(graft.etl.OrcSink.read(spark, s"$dir/orc", Schemas.transactions))
    val viaPq = cols(graft.etl.ParquetSink.read(spark, s"$dir/pq", Schemas.transactions))
    assert(viaJson.count() == tx.count())
    assert(viaJson.except(viaPq).count() == 0 && viaPq.except(viaJson).count() == 0,
      "json-lines roundtrip must be lossless vs the parquet sink")
    assert(viaOrc.except(viaPq).count() == 0 && viaPq.except(viaOrc).count() == 0,
      "orc roundtrip must be lossless vs the parquet sink")
  }

  test("deleteWhere removes fully-emptied partitions from disk (reorg rollback)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delete_full").toString
    val path = s"$dir/transactions"
    // 3 ranges: 0-999, 1000-1999, 2000-2499
    val b = ChainFixture.blocks(spark, 0L, 2499L)
    val r = ChainFixture.receipts(spark, 0L, 2499L)
    graft.etl.Load.writeBucketed(
      Flatten.transactionRows(b, r), path, Schemas.dedupKeys("transactions"))
    val total = spark.read.parquet(path).count()
    val range01 = spark.read.parquet(path).filter(col("blockNumber") < 2000L).count()
    // reorg rollback: delete blocks >= 2000 — range 2 is emptied ENTIRELY,
    // the exact case dynamic overwrite misses (zero keep rows -> partition
    // never rewritten). The directory must be gone, not just the rows.
    val (deleted, rewritten) = graft.etl.Load.deleteWhere(
      spark, path, col("blockNumber") >= 2000L)
    assert(deleted == total - range01 && rewritten == 1L)
    assert(!new java.io.File(s"$path/blockRange=2").exists(),
      "fully-emptied partition directory must be deleted from disk")
    val after = spark.read.parquet(path)
    assert(after.count() == range01 && after.agg(max(col("blockNumber"))).head.getLong(0) == 1999L)
    // mixed case: one partition fully emptied (range 1), one partially (range 0)
    val expect500 = (500L to 1999L).map(n => (n % 5) + 1).sum
    val (d2, rw2) = graft.etl.Load.deleteWhere(
      spark, path, col("blockNumber") >= 500L)
    assert(d2 == expect500 && rw2 == 2L)
    assert(!new java.io.File(s"$path/blockRange=1").exists())
    val f = spark.read.parquet(path)
    assert(f.agg(max(col("blockNumber"))).head.getLong(0) == 499L)
    assert(f.count() == (0L to 499L).map(n => (n % 5) + 1).sum)
  }

  test("compactPartitioned compacts each partition in place; untouched partitions byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    val path = s"$dir/transactions"
    val b = ChainFixture.blocks(spark, 0L, 1499L)
    val r = ChainFixture.receipts(spark, 0L, 1499L)
    graft.etl.Load.writeBucketed(
      Flatten.transactionRows(b, r), path, Schemas.dedupKeys("transactions"))
    // fragment range 0 with appended debris; leave range 1 as written
    val extra = Flatten.transactionRows(
      ChainFixture.blocks(spark, 0L, 99L), ChainFixture.receipts(spark, 0L, 99L))
      .withColumn("blockRange", lit(0L))
    (1 to 3).foreach { _ =>
      extra.repartition(4).write.mode("append").partitionBy("blockRange").parquet(path)
    }
    val original = spark.read.parquet(path)
      .select(hex(col("hash"))).collect().map(_.getString(0)).sorted
    val range1Files = new java.io.File(s"$path/blockRange=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val (before, after) = graft.etl.Load.compactPartitioned(
      spark, path, Schemas.dedupKeys("transactions"), numFiles = 1)
    assert(before > after && after == 2L, s"expected 2 files after, got ($before, $after)")
    // range 1 was already at 1 file: its bytes must not have been rewritten
    val range1After = new java.io.File(s"$path/blockRange=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    assert(range1After == range1Files, "untouched partition must be byte-identical")
    // content identical, including the duplicate debris rows
    val compacted = spark.read.parquet(path)
      .select(hex(col("hash"))).collect().map(_.getString(0)).sorted
    assert(compacted.toSeq == original.toSeq)
    // flat compact still rejects the partitioned root
    intercept[IllegalArgumentException] {
      graft.etl.Load.compact(spark, path, Schemas.dedupKeys("transactions"))
    }
  }

  test("crash between concurrent table writes: resume must not skip the range, rebuilds a clean run exactly") {
    import java.util.concurrent.CountDownLatch
    // A sink that lets the OTHER three tables land completely, then
    // writes HALF of the target table's rows and dies — the worst D3
    // crash point: a complete-looking blocks table next to a partial
    // events table, and no range marker.
    class CrashingSink(failTable: String, cutoff: Long) extends graft.etl.TableSink {
      val survivors = new CountDownLatch(3)
      override def format: String = graft.etl.ParquetSink.format
      override def dataExt: String = graft.etl.ParquetSink.dataExt
      override def read(spark: org.apache.spark.sql.SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
        graft.etl.ParquetSink.read(spark, path, schema)
      override def write(df: org.apache.spark.sql.DataFrame, path: String,
          sortKeys: Seq[String], numberCol: String): Unit =
        if (path.endsWith(s"/$failTable")) {
          survivors.await() // deterministic: the other three finish first
          graft.etl.ParquetSink.write(df.filter(col(numberCol) < cutoff), path, sortKeys, numberCol)
          throw new RuntimeException("injected crash mid-ingest")
        } else {
          graft.etl.ParquetSink.write(df, path, sortKeys, numberCol)
          survivors.countDown()
        }
    }
    val whClean = java.nio.file.Files.createTempDirectory("graft_crash_clean").toString
    val whCrash = java.nio.file.Files.createTempDirectory("graft_crash").toString
    // the ingest's one read is cached only for the call: neither a clean
    // nor a crashed ingest leaves a persisted RDD or a cached plan behind
    def cached() = (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      org.apache.spark.sql.CachedPlans.count(spark))
    val before = cached()
    graft.etl.Load.ingest(spark, 0, 1499, whClean)
    assert(cached() == before, "a clean ingest must release its read")
    val boom = intercept[RuntimeException] {
      graft.etl.Load.ingest(spark, 0, 1499, whCrash, sink = new CrashingSink("events", 750L))
    }
    assert(boom.getMessage.contains("injected crash"))
    assert(cached() == before, "a crashed ingest must release its read")
    // the wreckage is what a real crash leaves: full blocks, partial events
    assert(spark.read.parquet(s"$whCrash/blocks").count() == 1500)
    val partialEvents = spark.read.parquet(s"$whCrash/events").count()
    val cleanEvents = spark.read.parquet(s"$whClean/events").count()
    assert(partialEvents < cleanEvents, "crash must leave events genuinely partial")
    // resume: the blocks table LOOKS complete, but no marker landed —
    // both ranges must be re-ingested, not skipped (the silent-loss bug
    // a blocks-only completeness check had)
    val redone = graft.etl.Load.ingestResumable(spark, 0, 1499, whCrash)
    assert(redone == Seq((0L, 999L), (1000L, 1499L)),
      s"resume after crash must redo the whole range, got $redone")
    // all four tables now equal the clean single run exactly
    Seq("blocks", "transactions", "events", "withdraws").foreach { t =>
      val a = spark.read.parquet(s"$whCrash/$t")
      val b = spark.read.parquet(s"$whClean/$t")
      assert(a.except(b).count() == 0 && b.except(a).count() == 0,
        s"table $t must match a clean run after crash recovery")
    }
    // and the rebuilt warehouse is marked: a second resume is a no-op
    assert(graft.etl.Load.ingestResumable(spark, 0, 1499, whCrash).isEmpty)
  }

  test("maintenance is sink-aware: orc compaction + delete work, mismatched sink fails fast") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_maint").toString
    val path = s"$dir/transactions_orc"
    val b = ChainFixture.blocks(spark, 0L, 1499L)
    val r = ChainFixture.receipts(spark, 0L, 1499L)
    val keys = Schemas.dedupKeys("transactions")
    graft.etl.Load.writeBucketed(
      Flatten.transactionRows(b, r), path, keys, sink = graft.etl.OrcSink)
    // fragment range 0 with appended orc debris
    val extra = Flatten.transactionRows(
      ChainFixture.blocks(spark, 0L, 99L), ChainFixture.receipts(spark, 0L, 99L))
      .withColumn("blockRange", lit(0L))
    (1 to 3).foreach { _ =>
      extra.repartition(4).write.mode("append").partitionBy("blockRange").orc(path)
    }
    val original = spark.read.orc(path)
      .select(hex(col("hash"))).collect().map(_.getString(0)).sorted
    // the old failure mode: a parquet-assuming pass would count 0 files
    // and "skip" the table as compacted — now it fails fast instead
    intercept[IllegalArgumentException] {
      graft.etl.Load.compactPartitioned(spark, path, keys)
    }
    val (before, after) = graft.etl.Load.compactPartitioned(
      spark, path, keys, numFiles = 1, sink = graft.etl.OrcSink)
    assert(before > after && after == 2L, s"expected 2 orc files after, got ($before, $after)")
    val compacted = spark.read.orc(path)
      .select(hex(col("hash"))).collect().map(_.getString(0)).sorted
    assert(compacted.toSeq == original.toSeq)
    // deleteWhere through the orc sink (wrong sink likewise fails fast)
    intercept[IllegalArgumentException] {
      graft.etl.Load.deleteWhere(spark, path, col("blockNumber") === 42L)
    }
    val expectDeleted = ((42L % 5) + 1) * 4 // base write + 3 debris copies
    val (deleted, rewritten) = graft.etl.Load.deleteWhere(
      spark, path, col("blockNumber") === 42L, sink = graft.etl.OrcSink)
    assert(deleted == expectDeleted && rewritten == 1L)
    assert(spark.read.orc(path).filter(col("blockNumber") === 42L).count() == 0)
    // JSON-lines is not self-describing: maintenance demands the explicit
    // schema (inference could silently retype columns)...
    val js = s"$dir/transactions_js"
    graft.etl.Load.writeBucketed(
      Flatten.transactionRows(b, r), js, keys, sink = graft.etl.JsonLinesSink)
    intercept[IllegalArgumentException] {
      graft.etl.Load.deleteWhere(spark, js, col("blockNumber") === 7L,
        sink = graft.etl.JsonLinesSink)
    }
    // ...and works under it
    val (dj, rwj) = graft.etl.Load.deleteWhere(spark, js, col("blockNumber") === 7L,
      sink = graft.etl.JsonLinesSink, schema = Some(Schemas.transactions))
    assert(dj == (7L % 5) + 1 && rwj == 1L)
    assert(graft.etl.JsonLinesSink.read(spark, js, Schemas.transactions)
      .filter(col("blockNumber") === 7L).count() == 0)
  }

  test("address PageRank: deterministic, mass-bounded, and in-degree-responsive") {
    import graft.queries.ChainQueries
    val a = ChainQueries.chainPagerank(spark, sf).collect()
    val b = ChainQueries.chainPagerank(spark, sf).collect()
    assert(a.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      b.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // every address holds positive rank; total mass never exceeds the
    // budget (floor divisions + dangling leak only ever LOSE mass)
    assert(a.forall(_.getLong(1) > 0))
    assert(a.map(_.getLong(1)).sum <= ChainQueries.PrMass)
    // in-degree responsiveness: an address with no inbound edges holds
    // exactly the teleport floor (150·perNode)/1000 after any number of
    // iterations; the top address must sit strictly above it (it
    // accumulated real contributions), and the graph must show spread.
    // (Comparing against the INITIAL uniform share would be wrong: the
    // fixture graph leaks mass through dangling sinks, so every rank
    // can decay below it.)
    val perNode = ChainQueries.PrMass / a.length
    val floor = (150 * perNode) / 1000
    assert(a.head.getLong(1) > floor)
    assert(a.map(_.getLong(1)).min >= floor)
    assert(a.head.getLong(1) > a.last.getLong(1))
  }

  test("flow balance: brute-force totals, role classification, bipartite-fixture pin") {
    import graft.queries.ChainQueries
    val got = ChainQueries.chainFlowBalance(spark, sf).collect()
    assert(got.nonEmpty)
    // brute-force per-address flows from the raw dump
    val edges = spark.read
      .parquet(s"${ChainQueries.RawDumpDir}/chain_raw_transactions")
      .filter(col("to").isNotNull)
      .select(hex(col("from")).as("s"), hex(col("to")).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter { case (s, d) => s != d }
    val out = edges.groupBy(_._1).map { case (a, es) =>
      a -> (es.length.toLong, es.map(_._2).distinct.length.toLong) }
    val in = edges.groupBy(_._2).map { case (a, es) =>
      a -> (es.length.toLong, es.map(_._1).distinct.length.toLong) }
    assert(got.length == (out.keySet ++ in.keySet).size)
    got.foreach { r =>
      val a = r.getString(0)
      val (nIn, inDeg) = in.getOrElse(a, (0L, 0L))
      val (nOut, outDeg) = out.getOrElse(a, (0L, 0L))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        (nIn, inDeg, nOut, outDeg), s"flows mismatch at $a")
      assert(r.getLong(5) == nIn + nOut)
      val role = if (nIn > 0 && nOut > 0) "relay" else if (nOut > 0) "source" else "sink"
      assert(r.getString(6) == role)
    }
    // flow conservation: total inflow == total outflow == edge count
    assert(got.map(_.getLong(1)).sum == edges.length.toLong)
    assert(got.map(_.getLong(3)).sum == edges.length.toLong)
    // the fixture generator is strictly bipartite (probed round 11): no
    // relays, passthrough identically 0. If a regen introduces relays,
    // this fails loudly and the screen becomes informative — update the
    // docs then, not this assertion silently.
    assert(got.forall(_.getString(6) != "relay"))
    assert(got.forall(_.getLong(7) == 0L))
  }

  test("address HITS: exact plain-Scala replay, mass bounds, edge-structure zeros") {
    import graft.queries.ChainQueries
    val got = ChainQueries.chainHits(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      ChainQueries.chainHits(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // replay the identical ceil-divisor integer iterations on the
    // collected edge list (chainHits above materialized the raw dump)
    val edges = spark.read
      .parquet(s"${ChainQueries.RawDumpDir}/chain_raw_transactions")
      .filter(col("to").isNotNull)
      .select(hex(col("from")).as("s"), hex(col("to")).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).map { case ((s, d), g) => (s, d, g.length.toLong) }
      .toSeq
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val m = ChainQueries.HitsMass
    var h = nodes.map(_ -> (m / nodes.length)).toMap
    var a: Map[String, Long] = Map.empty
    for (_ <- 1 to ChainQueries.HitsIters) {
      val ar = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => h(s) * w }.sum }
      val da = (ar.values.sum + m - 1) / m
      a = nodes.map(n => n -> ar.getOrElse(n, 0L) / da).toMap
      val hr = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map { case (_, d, w) => a(d) * w }.sum }
      val dh = (hr.values.sum + m - 1) / m
      h = nodes.map(n => n -> hr.getOrElse(n, 0L) / dh).toMap
    }
    got.foreach { r =>
      assert(r.getLong(1) == a(r.getString(0)), s"auth mismatch at ${r.getString(0)}")
      assert(r.getLong(2) == h(r.getString(0)), s"hub mismatch at ${r.getString(0)}")
    }
    // ceil divisor keeps every score within the mass budget, and the
    // totals never exceed it (floor normalization only loses mass)
    assert(got.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= m &&
      r.getLong(2) >= 0 && r.getLong(2) <= m))
    assert(got.map(_.getLong(1)).sum <= m && got.map(_.getLong(2)).sum <= m)
    assert(got.exists(_.getLong(1) > 0) && got.exists(_.getLong(2) > 0))
    // structure: positive authority needs an in-edge, positive hub an out-edge
    val dsts = edges.map(_._2).toSet
    val srcs = edges.map(_._1).toSet
    got.foreach { r =>
      if (r.getLong(1) > 0) assert(dsts(r.getString(0)))
      if (r.getLong(2) > 0) assert(srcs(r.getString(0)))
    }
  }

  test("balance gini: two-phase rank matches a direct Scala recomputation") {
    import graft.queries.ChainQueries
    val got = ChainQueries.chainBalanceGini(spark, sf).collect().head
    // independent recomputation: recipient inflow ledger, micro-wei
    // quantized, single-threaded sort + exact rank formula
    val bal = ChainQueries.chainTransferDecode(spark, sf)
      .groupBy(col("token"), col("to_addr")).agg(sum(col("amount")).as("w"))
      .select(col("token"), col("to_addr"),
        expr(s"w DIV ${ChainQueries.Gini.QuantDiv}").as("q"))
      .collect().map(r => (r.getLong(2), r.getString(0), r.getString(1))).toSeq
      .sortBy(t => (t._1, t._2, t._3))
    val n = bal.size.toLong
    val sq = bal.map(_._1).sum
    val siq = bal.zipWithIndex.map { case ((q, _, _), i) => (i + 1) * q }.sum
    val wantGini = (2 * siq - (n + 1) * sq) * 1000 / (n * sq)
    assert(got.getLong(0) == n && got.getLong(1) == sq)
    assert(got.getLong(2) == wantGini)
    assert(wantGini >= 0 && wantGini < 1000)
  }

  test("sequence audit: planted gap, duplicate, and regression are each counted once") {
    import spark.implicits._
    // scope A: seqs 0,1,3 in arrival order            -> 1 gap (2 missing)
    // scope B: seqs 0,1,1 (slot landed twice)         -> 1 dup
    // scope C: seqs 1,0 (order inversion)             -> 1 regression + clean span
    // scope D: single row                             -> filtered (n_rows < 2)
    val tx = Seq(
      ("AA", 1L, 0L, 0L), ("AA", 2L, 0L, 1L), ("AA", 3L, 0L, 3L),
      ("BB", 1L, 1L, 0L), ("BB", 2L, 1L, 1L), ("BB", 3L, 1L, 1L),
      ("CC", 1L, 2L, 1L), ("CC", 2L, 2L, 0L),
      ("DD", 1L, 3L, 5L)
    ).toDF("scope", "blockNumber", "transactionIndex", "seq")
    val got = graft.queries.ChainQueries.sequenceAuditOf(tx)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("AA", 3L, 1L, 0L, 0L),  // gap at seq 2
      ("BB", 3L, 0L, 1L, 0L),  // duplicate seq 1
      ("CC", 2L, 0L, 0L, 1L))) // arrival-order regression
  }

  test("basefee audit: fixture linear schedule deviates from EIP-1559 deterministically") {
    val rows = graft.queries.ChainQueries.chainBasefeeAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, conf, maxDev, sumDev) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0 && conf >= 0 && conf <= n)
      assert(maxDev >= 0 && sumDev >= maxDev)
      // fixture: baseFee = 1e9 + n (linear +1/block) while gasUsed is
      // well under target, so EIP-1559 predicts a DECREASE — every
      // audited block must deviate
      assert(conf == 0, s"linear fixture schedule cannot conform, got $conf of $n")
    }
  }

  test("basefee audit: hand-built conforming chain audits clean") {
    import spark.implicits._
    // three blocks following the exact update rule, gasLimit 30M:
    //   b1: bf 1000000000, gu 15000000 (== target) -> b2 bf unchanged
    //   b2: bf 1000000000, gu 30000000 (full)      -> b3 bf + bf*15M/15M/8
    val bf3 = 1000000000L + 1000000000L * 15000000L / 15000000L / 8
    val blocks = Seq(
      (1L, 1000000000L, 30000000L, 15000000L),
      (2L, 1000000000L, 30000000L, 30000000L),
      (3L, bf3, 30000000L, 1000000L)
    ).toDF("number", "bf", "gl", "gu")
    // run the same expression the query uses, over the planted spine
    import org.apache.spark.sql.functions._
    val w = graft.ops.Windows.boundedGlobal(col("number"))
    val audited = blocks
      .withColumn("pbf", lag(col("bf"), 1).over(w))
      .withColumn("pgu", lag(col("gu"), 1).over(w))
      .withColumn("pgl", lag(col("gl"), 1).over(w))
      .filter(col("pbf").isNotNull)
      .withColumn("tgt", expr("pgl DIV 2"))
      .withColumn("expected",
        expr(graft.queries.ChainQueries.Eip1559ExpectedForTest.replace("{IDIV}", "DIV")))
      .select(col("number"), col("bf"), col("expected"))
      .collect().map(r => (r.getLong(0), r.getLong(1) == r.getLong(2))).toSeq
    assert(audited == Seq((2L, true), (3L, true)))
  }

  test("txindex audit: fixture blocks are gapless 0..n-1 and the audit proves it") {
    val rows = graft.queries.ChainQueries.chainTxIndexAudit(spark, sf).collect()
    assert(rows.nonEmpty, "fixture must have blocks with >= 2 txs")
    rows.foreach { r =>
      val (nTx, sMin, sMax) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (gaps, dups, regr) = (r.getLong(4), r.getLong(5), r.getLong(6))
      // a correct flatten yields exactly 0..n−1 per block: all clean
      assert(sMin == 0L && sMax == nTx - 1)
      assert(gaps == 0L && dups == 0L && regr == 0L)
    }
  }
}
