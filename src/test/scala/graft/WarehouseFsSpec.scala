package graft

import java.net.URI

import org.apache.spark.sql.functions._

import graft.etl.GraftRawLocalFileSystem
import graft.types.Schemas

/** [[GraftRawLocalFileSystem]] (the engine's fork-free local file
  * system, so its status and permission paths also run under a foreign
  * scheme) re-registered under a `graftfs:` scheme — a
  * NON-`file:` scheme whose bytes still land on local disk. Maintenance
  * code that (wrongly) binds to `java.io.File` sees a `graftfs:/...`
  * string as a relative local filename: existence probes return false
  * (resume re-ingests everything) and deletes silently no-op (emptied
  * partitions survive a rollback). Running the full ingest → resume →
  * deleteWhere → compact cycle through this scheme proves every
  * maintenance path goes through the Hadoop FileSystem API instead.
  */
class GraftTestFileSystem extends GraftRawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
}

class WarehouseFsSpec extends SparkSuite {

  private def registerScheme(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)

  test("resume markers + completeness checks work through a non-file: scheme") {
    registerScheme()
    val tmp = java.nio.file.Files.createTempDirectory("graft_wfs").toString
    val wh = s"graftfs:$tmp/wh"
    graft.etl.Load.ingest(spark, 0, 1099, wh)
    // bytes physically landed where the scheme's backing store says
    // (cross-checked with plain local I/O, no Hadoop involved)
    val marker0 = new java.io.File(s"$tmp/wh/_complete/blockRange=0")
    val marker1 = new java.io.File(s"$tmp/wh/_complete/blockRange=1")
    assert(marker0.isFile && marker1.isFile)
    assert(java.nio.file.Files.readString(marker0.toPath) == "0 999")
    assert(java.nio.file.Files.readString(marker1.toPath) == "1000 1099")
    // resume reads the markers + blocks partitions through graftfs: and
    // skips everything — under a java.io.File binding both probes are
    // false and BOTH ranges would be re-ingested
    assert(graft.etl.Load.ingestResumable(spark, 0, 1099, wh).isEmpty)
    // a slice past the marker's coverage still re-ingests (clamped whole)
    val redone = graft.etl.Load.ingestResumable(spark, 1000, 1199, wh)
    assert(redone == Seq((1000L, 1199L)))
    assert(java.nio.file.Files.readString(marker1.toPath) == "1000 1199")
  }

  test("deleteWhere removes fully-emptied partitions through a non-file: scheme") {
    registerScheme()
    val tmp = java.nio.file.Files.createTempDirectory("graft_wfs_del").toString
    val wh = s"graftfs:$tmp/wh"
    graft.etl.Load.ingest(spark, 0, 1099, wh)
    val path = s"$wh/transactions"
    val before = spark.read.parquet(path).count()
    val tailRows = spark.read.parquet(path).filter(col("blockNumber") >= 1000L).count()
    assert(tailRows > 0)
    // reorg rollback: delete blocks >= 1000 — empties the blockRange=1
    // partition entirely, so dynamic overwrite never touches it and only
    // the explicit scheme-aware rmTree can remove it
    val (deleted, rewritten) = graft.etl.Load.deleteWhere(
      spark, path, col("blockNumber") >= 1000L)
    assert(deleted == tailRows && rewritten == 1L)
    val partDir = new java.io.File(s"$tmp/wh/transactions/blockRange=1")
    assert(!partDir.exists(), "emptied partition dir must be deleted through the scheme FS")
    assert(spark.read.parquet(path).count() == before - tailRows)
  }

  test("compact's rename-aside swap works through a non-file: scheme") {
    registerScheme()
    val tmp = java.nio.file.Files.createTempDirectory("graft_wfs_cmp").toString
    val path = s"graftfs:$tmp/t"
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    df.repartition(4).write.mode("append").parquet(path)
    df.repartition(4).write.mode("append").parquet(path)
    val original = spark.read.parquet(path).orderBy("k", "v").collect().toSeq
    val (before, after) = graft.etl.Load.compact(spark, path, Seq("k"))
    assert(before == 8L && after == 1L)
    assert(spark.read.parquet(path).orderBy("k", "v").collect().toSeq == original)
    // neither swap residue survives
    assert(!new java.io.File(s"$tmp/t__compacting").exists())
    assert(!new java.io.File(s"$tmp/t__old").exists())
  }

  test("streaming state probes resolve through the path's scheme") {
    registerScheme()
    val tmp = java.nio.file.Files.createTempDirectory("graft_wfs_state").toString
    val stateDir = s"graftfs:$tmp/neardup"
    import spark.implicits._
    val batch0 = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.streaming.StreamOps.nearDupBatch(spark, batch0, stateDir, 0L)
    // state landed under the scheme path and is found on the next batch
    assert(new java.io.File(s"$tmp/neardup/band_index").exists())
    val batch1 = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    graft.streaming.StreamOps.nearDupBatch(spark, batch1, stateDir, 1L)
    val pairs = spark.read.parquet(s"$stateDir/dup_pairs")
      .select("a", "b").as[(Long, Long)].collect().toSet
    // batch-1 doc 2 must pair against batch-0 state (cross-batch lookup
    // only happens when the exists() probe resolves through graftfs:)
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
  }

  test("registered diagnostics' scratch artifacts route through a non-file: scheme") {
    registerScheme()
    val tmp = java.nio.file.Files.createTempDirectory("graft_wfs_scratch").toString
    // default-root run first: the value baseline the scheme run must equal
    val expected = graft.ops.DedupOps.incrementalDedup(spark, sf)
      .collect().map(_.toSeq).toSet
    spark.conf.set(graft.etl.Scratch.ConfKey, s"graftfs:$tmp/scratch")
    try {
      val got = graft.ops.DedupOps.incrementalDedup(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(got == expected)
      // the index physically landed under the scheme root (a java.io.File
      // binding would have dropped it somewhere relative-local instead)
      assert(new java.io.File(s"$tmp/scratch/minhash_idx/bands").isDirectory)
      // a second invocation overwrites the SAME fixed path — bounded
      // disk, unlike the old fresh-createTempDirectory-per-run leak
      assert(graft.ops.DedupOps.incrementalDedup(spark, sf)
        .collect().map(_.toSeq).toSet == expected)
      graft.etl.Scratch.cleanAll(spark)
      assert(!new java.io.File(s"$tmp/scratch").exists())
    } finally spark.conf.unset(graft.etl.Scratch.ConfKey)
  }
}
