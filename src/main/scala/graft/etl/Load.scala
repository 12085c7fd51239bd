package graft.etl

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.types.Schemas

/** D1-D4: columnar bulk load, 1000-block-aligned batching, concurrent
  * multi-table load (reference: src/main.rs:165,292-334).
  *
  * The reference flushes its row buffers every time the block number
  * crosses a 1000 boundary — batching by *block-number alignment*, not by
  * row count (main.rs:292). The Spark-native unit of load is a partition
  * directory: we derive `blockRange = floor(number/1000)` and write
  * Parquet partitioned by it, so a re-run of any block range overwrites
  * exactly the same partition directories (dynamic partition overwrite) —
  * the same idempotent-rerun property ReplacingMergeTree gives the
  * reference, realized at write time instead of background-merge time.
  *
  * Rows are sorted within partitions by the table's ORDER BY key
  * (main.rs:87-157) so Parquet row-group min/max stats give the same
  * scan-pruning benefit as ClickHouse's sort-key clustering.
  */
object Load {

  val Batch = 1000L

  /** Write one table bucketed by blockRange, sorted by its dedup key,
    * through the given sink (ParquetSink unless a job plugs another —
    * the D1 sink contract lives in [[TableSink]]). */
  def writeBucketed(
      df: DataFrame,
      path: String,
      sortKeys: Seq[String],
      numberCol: String = "blockNumber",
      sink: TableSink = ParquetSink): Unit =
    sink.write(df, path, sortKeys, numberCol)

  /** D3: the 4 table loads of one flush run concurrently (try_join!,
    * main.rs:293-311), each write internally parallel too; any failure
    * propagates and aborts the load. Spark jobs cannot be dropped the way
    * try_join! drops its futures, so the failure is raised once every
    * write has stopped: none is still reading a source the caller
    * releases on the way out (other failures ride along suppressed). */
  def writeAll(tables: Map[String, (DataFrame, Seq[String], String)], warehouse: String,
      sink: TableSink = ParquetSink): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val jobs = tables.toSeq.map { case (name, (df, sortKeys, numberCol)) =>
      Future(writeBucketed(df, s"$warehouse/$name", sortKeys, numberCol, sink))
    }
    val failures = jobs.map(Await.ready(_, Duration.Inf).value.get).collect { case Failure(e) => e }
    failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
  }

  /** Interchange formats: schema-enforced JSON/CSV export + import of any
    * chain table (binary columns as base64 in JSON; CSV additionally hex-
    * encodes binaries since CSV has no binary type). Parquet stays the
    * analytical format; these are the interchange paths (dumps, sharing,
    * loading into engines without parquet readers). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Read JSON back under an explicit schema — no inference, mirroring the
    * fixed-schema stance of the reference DDL. */
  def readJson(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV export: binary/array columns hex/JSON-encoded into strings. */
  def writeCsv(df: DataFrame, path: String): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.BinaryType => hex(col(f.name)).as(f.name)
        case _: org.apache.spark.sql.types.ArrayType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Bucketed managed table: co-locates future joins/aggregations on the
    * bucket key — two tables bucketed the same way join with NO shuffle
    * (verified in ChainEtlSpec). At 100 TB this is the difference between
    * re-shuffling the fact table per query and never shuffling it. */
  def writeBucketedTable(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int,
      sortKeys: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(sortKeys.head, sortKeys.tail: _*)
      .saveAsTable(table)

  /** A4: schema bootstrap — idempotent CREATE over the warehouse paths
    * (reference `--schema`, main.rs:36-37,52-163). */
  def createTables(spark: SparkSession, warehouse: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS ethereum")
    Schemas.dedupKeys.keys.foreach { t =>
      val schema = t match {
        case "blocks" => Schemas.blocks
        case "transactions" => Schemas.transactions
        case "events" => Schemas.events
        case "withdraws" => Schemas.withdraws
      }
      val ddlCols = schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
        .mkString(", ")
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS ethereum.$t ($ddlCols, blockRange BIGINT)
           |USING parquet PARTITIONED BY (blockRange)
           |LOCATION '$warehouse/$t'""".stripMargin)
    }
  }

  /** Resumable ingest: skip 1000-block ranges that already landed
    * COMPLETELY and (re-)ingest the rest. Dynamic partition overwrite
    * makes re-runs IDEMPOTENT; this makes them CHEAP — a restarted
    * 100 TB backfill re-fetches nothing it already landed, where the
    * reference re-runs its whole loop (main.rs:172). An incomplete
    * range is re-ingested WHOLE (bounded by `to`) — never a slice,
    * since dynamic overwrite replaces the entire partition. Returns
    * the ranges ingested.
    *
    * Completeness = the range's `_complete` marker covers the requested
    * slice AND the blocks partition holds every requested block. The
    * marker is written by [[ingest]] only AFTER all four tables' writes
    * returned, which closes the crash window a blocks-only data check
    * had: a job dying between the blocks write and the events write
    * leaves a complete-looking blocks partition, and a resume keyed on
    * blocks alone would SKIP the range and silently strand the partial
    * events table (proven by ChainEtlSpec's injected-crash test). A
    * marker-less warehouse (pre-upgrade, or crashed mid-writeAll) is
    * treated as incomplete — re-ingest is idempotent, so the safe
    * default costs only a re-fetch. */
  def ingestResumable(spark: SparkSession, from: Long, to: Long, warehouse: String,
      endpoint: Option[String] = None, sink: TableSink = ParquetSink): Seq[(Long, Long)] = {
    // resolved from the warehouse path's scheme so resume works on
    // hdfs://s3a:// too — a local-FS probe there is always false and
    // would silently re-ingest the entire backfill
    val (fs, _) = WarehouseFs.resolve(spark, warehouse)
    def complete(r: Long, lo: Long, hi: Long): Boolean = {
      val m = new org.apache.hadoop.fs.Path(s"$warehouse/_complete/blockRange=$r")
      val markerCovers = WarehouseFs.isFile(fs, m) && {
        try {
          val parts = WarehouseFs.readString(fs, m).trim.split("\\s+")
          parts.length == 2 && parts(0).toLong <= lo && hi <= parts(1).toLong
        } catch { case scala.util.control.NonFatal(_) => false }
      }
      markerCovers && {
        val p = new org.apache.hadoop.fs.Path(s"$warehouse/blocks/blockRange=$r")
        WarehouseFs.isDirectory(fs, p) && {
          try sink.read(spark, s"$warehouse/blocks/blockRange=$r", Schemas.blocks)
            .where(org.apache.spark.sql.functions.col("number").between(lo, hi))
            .count() == hi - lo + 1
          catch { case scala.util.control.NonFatal(_) => false }
        }
      }
    }
    val ranges = (from / Batch to to / Batch)
      .map(r => (r, math.max(from, r * Batch), math.min(to, r * Batch + Batch - 1)))
      .filterNot { case (r, lo, hi) => complete(r, lo, hi) }
      // an incomplete range is (re-)ingested WHOLE (clamped to `to`): dynamic
      // partition overwrite replaces the entire partition, so writing only
      // the [from, hi] slice would drop blocks below `from` already landed
      .map { case (r, _, _) => (r * Batch, math.min(to, r * Batch + Batch - 1)) }
    ranges.foreach { case (lo, hi) => ingest(spark, lo, hi, warehouse, endpoint, sink) }
    ranges.toSeq
  }

  /** Small-file compaction for an append-accumulated parquet table (the
    * debris of micro-batch streams and resumable backfills): rewrites the
    * table into `numFiles` files, sorted so parquet row-group min/max
    * stats stay selective, without changing a single row.
    *
    * Safety order (every crash point leaves a complete table at a
    * recoverable path): (1) compacted copy fully written to
    * `path__compacting`; (2) original renamed aside to `path__old` —
    * a single atomic rename, not a file-by-file delete; (3) replacement
    * renamed into place; (4) only then is the old copy deleted. A crash
    * between (2) and (3) leaves the original intact at `path__old`; the
    * earlier delete-then-move order had a window with NO table at `path`.
    *
    * Hive-partitioned roots (subdirs like `blockRange=N`) are rejected:
    * a flat rewrite would silently drop the partition layout that
    * `ingestResumable`'s per-partition completeness checks key on —
    * compact each partition directory individually instead (which is
    * also the only shape that scales: per-partition rewrites, never a
    * full-table shuffle).
    *
    * Maintenance is sink-aware: `sink` selects the encoding to count,
    * read, and rewrite (parquet by default), and a directory holding a
    * DIFFERENT sink's data files fails fast instead of being silently
    * reported as already-compacted. Non-self-describing sinks (JSON
    * lines) additionally require the table `schema` — inference could
    * silently retype columns. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String, sortKeys: Seq[String],
      numFiles: Int = 1, sink: TableSink = ParquetSink,
      schema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) = {
    val (fs, dir) = WarehouseFs.resolve(spark, path)
    require(WarehouseFs.isDirectory(fs, dir), s"compact: $path is not a directory")
    val partitioned = WarehouseFs.list(fs, dir)
      .exists(d => d.isDirectory && d.getPath.getName.contains("="))
    require(!partitioned,
      s"compact: $path is a hive-partitioned root; compact its partition dirs individually")
    requireSinkLayout(fs, dir, sink, "compact")
    val before = dataFiles(fs, dir, sink)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    WarehouseFs.deleteTree(fs, tmp) // debris of a previous crashed attempt
    WarehouseFs.deleteTree(fs, old)
    readThrough(spark, path, sink, schema, "compact")
      .repartition(numFiles)
      .sortWithinPartitions(sortKeys.map(col): _*)
      .write.mode("overwrite").options(sink.writeOptions)
      .format(sink.format).save(tmp.toString)
    // rename, not delete-then-move: every crash point leaves a complete
    // table at either `path` or `path__old` (atomic on HDFS/local; on
    // S3A rename is a copy, but the order still never leaves a window
    // with NO complete copy)
    WarehouseFs.rename(fs, dir, old)
    WarehouseFs.rename(fs, tmp, dir)
    WarehouseFs.deleteTree(fs, old)
    (before, dataFiles(fs, dir, sink))
  }

  /** Count of `sink`-encoded data files under `p`, recursive. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, sink: TableSink): Long =
    if (!WarehouseFs.isDirectory(fs, p)) 0L
    else WarehouseFs.list(fs, p).map {
      case d if d.isDirectory => dataFiles(fs, d.getPath, sink)
      case f if f.getPath.getName.endsWith(sink.dataExt) => 1L
      case _ => 0L
    }.sum

  private val KnownExts = Seq(".parquet", ".orc", ".json", ".native")

  /** Fail fast when `dir` holds data files of a DIFFERENT sink's encoding
    * — the silent-miscount case: counting only `sink.dataExt` over an
    * alien layout reports 0 files and "nothing to do". */
  private def requireSinkLayout(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, sink: TableSink, who: String): Unit = {
    def foreign(p: org.apache.hadoop.fs.FileStatus): Option[String] =
      if (p.isDirectory)
        WarehouseFs.list(fs, p.getPath).iterator.flatMap(foreign(_).iterator).nextOption()
      else KnownExts.find(e => e != sink.dataExt && p.getPath.getName.endsWith(e))
    WarehouseFs.list(fs, dir).iterator.flatMap(foreign(_).iterator).nextOption().foreach { ext =>
      throw new IllegalArgumentException(
        s"$who: $dir holds $ext data files but sink ${sink.format} " +
          s"expects ${sink.dataExt}; pass the matching TableSink")
    }
  }

  /** Maintenance read through the sink's encoding; non-self-describing
    * sinks must supply the schema explicitly. */
  private def readThrough(spark: SparkSession, path: String, sink: TableSink,
      schema: Option[org.apache.spark.sql.types.StructType], who: String): DataFrame = {
    require(sink.selfDescribing || schema.isDefined,
      s"$who: sink ${sink.format} is not self-describing; pass the table schema")
    val r = schema.map(spark.read.schema).getOrElse(spark.read)
    r.format(sink.format).load(path)
  }

  /** Per-partition compaction for a hive-partitioned root (the layout
    * [[compact]] rejects): each `col=value` child directory is compacted
    * independently through [[compact]]'s rename-aside swap, so every crash
    * point still leaves every partition complete and recoverable, and
    * partitions already at or below `numFiles` are SKIPPED — their bytes
    * are never rewritten. This is the only compaction shape that scales:
    * per-partition rewrites bounded by partition size, never a full-table
    * shuffle, and trivially parallelizable across partitions by a driver
    * loop at 100 TB (each swap touches one directory). Returns total
    * (filesBefore, filesAfter) across all partitions. */
  def compactPartitioned(spark: SparkSession, path: String, sortKeys: Seq[String],
      numFiles: Int = 1, sink: TableSink = ParquetSink,
      schema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) = {
    val (fs, dir) = WarehouseFs.resolve(spark, path)
    require(WarehouseFs.isDirectory(fs, dir), s"compactPartitioned: $path is not a directory")
    requireSinkLayout(fs, dir, sink, "compactPartitioned")
    val parts = WarehouseFs.list(fs, dir)
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      .sortBy(_.getPath.getName)
    require(parts.nonEmpty,
      s"compactPartitioned: $path has no partition directories; use compact")
    val results = parts.map { p =>
      val already = WarehouseFs.list(fs, p.getPath)
        .count(_.getPath.getName.endsWith(sink.dataExt))
      if (already <= numFiles) (already.toLong, already.toLong)
      else compact(spark, p.getPath.toString, sortKeys, numFiles, sink, schema)
    }
    (results.map(_._1).sum, results.map(_._2).sum)
  }

  /** Targeted deletion — the right-to-be-forgotten / reorg-rollback
    * primitive: removes rows matching `predicate` from a
    * blockRange-partitioned table by REWRITING ONLY the partitions that
    * contain matches (dynamic partition overwrite — untouched
    * partitions' files are never opened for write). At 100 TB the cost
    * is bounded by the matching partitions, never the table; a reorg
    * rollback (delete blocks ≥ N) touches exactly the tail partitions.
    * The kept rows are materialized (localCheckpoint) BEFORE the
    * overwrite, since the write replaces its own input path. Returns
    * (rowsDeleted, partitionsRewritten). */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column, sink: TableSink = ParquetSink,
      schema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) = {
    val (dwFs, dwRoot) = WarehouseFs.resolve(spark, path)
    requireSinkLayout(dwFs, dwRoot, sink, "deleteWhere")
    val table = readThrough(spark, path, sink, schema, "deleteWhere")
    require(table.columns.contains("blockRange"),
      s"deleteWhere: $path is not a blockRange-partitioned table")
    // three-valued logic: a row is deleted only when the predicate is
    // TRUE. `filter(!predicate)` would ALSO drop predicate-NULL rows
    // (null-valued columns) — silent data loss; coalesce pins NULL to
    // "not a match" on both sides.
    val isMatch = coalesce(predicate, lit(false))
    val hit = table.filter(isMatch)
      .select(col("blockRange")).distinct()
      .collect().map(_.getAs[Number](0).longValue) // partition values read back type-inferred
    if (hit.isEmpty) (0L, 0L)
    else {
      val touched = table.filter(col("blockRange").isin(hit.toIndexedSeq: _*))
      val keep = touched.filter(!isMatch).localCheckpoint()
      val deleted = touched.count() - keep.count()
      keep.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .options(sink.writeOptions)
        .partitionBy("blockRange")
        .format(sink.format).save(path)
      // Dynamic partition overwrite only rewrites partitions PRESENT in the
      // written data. A hit partition whose rows ALL matched the predicate
      // contributes zero keep rows, so the overwrite never touches it and
      // its files would silently survive (exactly the reorg-rollback case:
      // delete blocks >= N empties entire tail partitions). Remove those
      // fully-emptied partition directories explicitly.
      val kept = keep.select(col("blockRange")).distinct()
        .collect().map(_.getAs[Number](0).longValue).toSet
      hit.filterNot(kept.contains).foreach { r =>
        WarehouseFs.deleteTree(dwFs, new org.apache.hadoop.fs.Path(s"$path/blockRange=$r"))
      }
      (deleted, hit.length.toLong)
    }
  }

  /** The one read of a block range ([[graft.sources.BlockFetcher.blocksWithReceipts]]:
    * two RPCs per block), persisted MEMORY_AND_DISK so that all four
    * tables flatten from it. Lazy: the first action fetches. */
  private def fetch(spark: SparkSession, from: Long, to: Long,
      endpoint: Option[String]): Dataset[BlockWithReceipts] =
    graft.sources.BlockFetcher.blocksWithReceipts(spark, from, to, endpoint)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Runs `body` over the one read of a block range, then releases the
    * read's cache, whether `body` returns or throws. */
  def withFetch[A](spark: SparkSession, from: Long, to: Long,
      endpoint: Option[String])(body: Dataset[BlockWithReceipts] => A): A = {
    val fetched = fetch(spark, from, to, endpoint)
    try body(fetched) finally fetched.unpersist(blocking = true)
  }

  /** The four flattened chain tables of one read — D1's inputs. Every
    * table projects or explodes the same rows; nothing is joined. */
  def tables(fetched: Dataset[BlockWithReceipts]): Map[String, (DataFrame, Seq[String], String)] = {
    val blocks = Flatten.blocksOf(fetched)
    Map(
      "blocks" -> ((Flatten.blockRows(blocks), Schemas.dedupKeys("blocks"), "number")),
      "transactions" -> ((Flatten.transactionRows(fetched),
        Schemas.dedupKeys("transactions"), "blockNumber")),
      "events" -> ((Flatten.eventRows(fetched),
        Schemas.dedupKeys("events"), "blockNumber")),
      "withdraws" -> ((Flatten.withdrawalRows(blocks),
        Schemas.dedupKeys("withdraws"), "blockNumber"))
    )
  }

  /** The four flattened chain tables of a block range, exposed so the
    * scale bench can time extract+flatten separately from the bucketed
    * write. All four share one read of the range (two RPCs per block),
    * which stays cached for the session until the caller drops it
    * (`spark.catalog.clearCache()`); [[withFetch]] with
    * `tables(fetched)` releases it instead. */
  def tables(spark: SparkSession, from: Long, to: Long,
      endpoint: Option[String] = None): Map[String, (DataFrame, Seq[String], String)] =
    tables(fetch(spark, from, to, endpoint))

  /** Full ingest of a block range into the warehouse — the reference's
    * main loop (src/main.rs:172-336) as one declarative batch job.
    * `endpoint` selects the transport: HTTP JSON-RPC url, or the offline
    * fixture when absent. Each block is fetched once (two RPCs, as in the
    * reference) and held only for the duration of the call: the cache is
    * released on success and on a failed write alike. */
  def ingest(spark: SparkSession, from: Long, to: Long, warehouse: String,
      endpoint: Option[String] = None, sink: TableSink = ParquetSink): Unit =
    withFetch(spark, from, to, endpoint)(land(_, from, to, warehouse, sink))

  /** Lands the one read of [from, to] (from [[withFetch]]) in the
    * warehouse. One action first materializes the read, so the four
    * concurrent table writes all read the cache rather than each fetching.
    * After ALL four tables land, a per-range `_complete` marker records
    * the covered slice — the commit record [[ingestResumable]] keys on (a
    * crash anywhere before this point leaves no marker, so the whole
    * range is re-ingested on resume). */
  def land(fetched: Dataset[BlockWithReceipts], from: Long, to: Long, warehouse: String,
      sink: TableSink): Unit = {
    fetched.count()
    writeAll(tables(fetched), warehouse, sink)
    val (fs, dir) = WarehouseFs.resolve(fetched.sparkSession, s"$warehouse/_complete")
    WarehouseFs.mkdirs(fs, dir)
    (from / Batch to to / Batch).foreach { r =>
      val lo = math.max(from, r * Batch)
      val hi = math.min(to, r * Batch + Batch - 1)
      WarehouseFs.writeString(fs,
        new org.apache.hadoop.fs.Path(dir, s"blockRange=$r"), s"$lo $hi")
    }
  }
}
