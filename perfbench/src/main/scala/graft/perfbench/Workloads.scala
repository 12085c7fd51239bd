package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.etl.Load
import graft.sources.BlockFetcher

/** Times the named phases of one op. */
trait Phases {
  def apply[T](name: String)(body: => T): T
}

/** One operation of a workload: issued by the single closed-loop client,
  * timed as a whole, and checked. `run` throws when the output is wrong
  * and returns counters measured around its phases. */
trait Op {
  def name: String
  def module: String
  def run(ph: Phases, traced: Boolean): Map[String, Double]
}

final class CheckFailed(msg: String) extends Exception(msg)

/** A fixed multiset of ops, run in whole passes; only the order (and for
  * chain_ingest the block range) depends on the seed. */
abstract class Workload {
  def name: String
  def ops: IndexedSeq[Op]
  def warmOps: IndexedSeq[Op] = ops
  def beforePass(pass: Int): Unit = ()
  /** Workload-specific figures of a finished pass (sizes, files). */
  def afterPass(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {
  val Names = Seq("chain_ingest", "analytics", "stream_replay")

  def apply(name: String, spark: SparkSession, seed: Long, root: String, work: String,
      expected: Map[String, String]): Workload = name match {
    case "chain_ingest" => new ChainIngest(spark, seed, work)
    case "analytics" => new Registered(name, spark, seed, root, Mix.Analytics, expected)
    case "stream_replay" => new Registered(name, spark, seed, root, Mix.Stream, expected)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()
}

/** The registered queries each workload runs, and the module that
  * registers each. */
object Mix {
  /** The dedup-family queries that read the session's shared MinHash
    * tables (`DedupOps.dupTables`). */
  val SharedMinHash: Seq[String] = Seq("dedup_minhash_lsh", "dedup_minhash_calibration",
    "dedup_clusters", "dedup_clusters_star", "dedup_split_leakage")

  private def moduleOf(name: String): String =
    if (SharedMinHash.contains(name)) "ops.dedup"
    else if (graft.queries.Relational.queries.contains(name)) "queries.relational"
    else if (graft.queries.ChainQueries.queries.contains(name)) "queries.chain"
    else if (graft.ops.TextOps.queries.contains(name)) "ops.text"
    else if (graft.ops.DedupOps.queries.contains(name)) "ops.dedup"
    else if (graft.streaming.StreamParity.queries.contains(name)) "streaming"
    else throw new IllegalArgumentException(s"$name is not in a benchmarked module")

  private def of(names: String*): Seq[(String, String)] = names.map(n => n -> moduleOf(n))

  /** The full read-side mix: every Relational, ChainQueries and TextOps
    * query and the shared-MinHash dedup queries, 108 ops. [[Survey]]
    * times it; [[Analytics]] is a subset chosen from those times. */
  lazy val FullAnalytics: Seq[(String, String)] = of(
    (graft.queries.Relational.queries.keys ++ graft.queries.ChainQueries.queries.keys ++
      graft.ops.TextOps.queries.keys).toSeq.sorted ++ SharedMinHash: _*)

  /** A 9-op stand-in for [[FullAnalytics]], which takes about a minute
    * per pass. Ops per module roughly in proportion to the module's op
    * count (4 relational, 2 chain, 2 text, 1 shared-MinHash dedup),
    * picked from a [[Survey]] of the full mix on the benchmark's input so
    * that the subset's module time shares, share of time in
    * `fn(spark, dir)`, op-time p50 and p90, and share of time in ops
    * slower than the full mix's p90 match the full mix's (README.md has
    * both sets of figures). */
  val Analytics: Seq[(String, String)] = of(
    "q03_join_broadcast", "q12_count_distinct", "q37_gap_fill", "q46_json_typed",
    "chain_tables", "chain_token_balances", "text_kneser_ney", "text_rolling_hash",
    "dedup_minhash_lsh")

  /** Every registered stream replay; [[Survey]] times it. */
  lazy val FullStream: Seq[(String, String)] =
    of(graft.streaming.StreamParity.queries.keys.toSeq.sorted: _*)

  /** One replay of every kind: foreachBatch maintainers, watermark twins
    * and flatMapGroupsWithState. */
  val Stream: Seq[(String, String)] = of(
    "stream_hll_parity", "stream_window_parity", "stream_transitions_parity")
}

/** Registered queries: build the DataFrame (`fn(spark, dir)`, including
  * any eager work such as a stream replay), then write it to the noop
  * sink and compare its digest with the one recorded for the op. */
final class Registered(val name: String, spark: SparkSession, seed: Long, root: String,
    mix: Seq[(String, String)], expected: Map[String, String]) extends Workload {

  private val dir = s"file:$root/perfbench/data/sf0.01"

  val ops: IndexedSeq[Op] = new scala.util.Random(seed).shuffle(mix).toIndexedSeq.map {
    case (opName, mod) =>
      val fn = graft.SparkEntry.queries(opName)
      new Op {
        val name: String = opName
        val module: String = mod
        def run(ph: Phases, traced: Boolean): Map[String, Double] = {
          val df: DataFrame = ph("build")(fn(spark, dir))
          val got = ph("action")(Digest.materialize(df))
          expected.get(opName) match {
            case Some(want) if want == got => Map.empty
            case Some(want) => throw new CheckFailed(s"$opName digest $got, expected $want")
            case None => throw new CheckFailed(s"$opName has no recorded digest (got $got)")
          }
        }
      }
  }
}

/** `Load.ingest` of a seed-chosen fixture range of [[ChainIngest.Ranges]]
  * 1000-block ranges into a fresh warehouse per pass, fetching over HTTP
  * JSON-RPC from the in-process [[StubNode]]: one op per pass, the
  * reference program's job. */
final class ChainIngest(spark: SparkSession, seed: Long, work: String) extends Workload {
  val name = "chain_ingest"
  private val cpus = Runtime.getRuntime.availableProcessors()
  val first: Long = ChainIngest.firstBlock(seed)
  private val last = first + ChainIngest.Ranges * Load.Batch - 1
  private val payloads = new ChainPayloads(first to last, cpus)
  private val stub = new StubNode(payloads, cpus)
  private val url = Some(stub.url)
  private var warehouse = ""
  private val conf = spark.sparkContext.hadoopConfiguration

  override def beforePass(pass: Int): Unit = {
    warehouse = s"file:$work/ingest/pass-$pass"
    Seq(warehouse, s"$warehouse-write_all").map(new Path(_)).foreach(p => p.getFileSystem(conf).delete(p, true))
  }

  private def ingestOp(lo: Long, hi: Long): Op = new Op {
    val name = s"ingest_${lo}_$hi"
    val module = "etl"
    def run(ph: Phases, traced: Boolean): Map[String, Double] = {
      if (traced) {
        ph("fetch") {
          Workload.noop(BlockFetcher.blocks(spark, lo, hi, url))
          Workload.noop(BlockFetcher.receipts(spark, lo, hi, url))
        }
        ph("tables")(Load.tables(spark, lo, hi, url).values.foreach(t => Workload.noop(t._1)))
        ph("write_all")(Load.writeAll(Load.tables(spark, lo, hi, url), s"$warehouse-write_all"))
      }
      val (c0, b0) = stub.totals()
      ph("ingest")(Load.ingest(spark, lo, hi, warehouse, url))
      val (c1, b1) = stub.totals()
      (lo to hi by Load.Batch).foreach(check)
      Map("blocks" -> (hi - lo + 1).toDouble, "rpc_calls" -> (c1 - c0).toDouble,
        "rpc_bytes" -> (b1 - b0).toDouble)
    }
  }

  /** Per-table row counts of one 1000-block range, read back from the
    * parquet footers of its partition, against counts taken from the
    * fixture, plus the range's `_complete` marker. */
  private def check(lo: Long): Unit = {
    val hi = lo + Load.Batch - 1
    val r = lo / Load.Batch
    val want = payloads.expectedRows(lo, hi)
    ChainPayloads.Tables.foreach { t =>
      val got = ChainIngest.parquetRows(new Path(s"$warehouse/$t/blockRange=$r"), conf)
      if (got != want(t)) throw new CheckFailed(s"$t blockRange=$r holds $got rows, expected ${want(t)}")
    }
    val marker = new Path(s"$warehouse/_complete/blockRange=$r")
    val fs = marker.getFileSystem(conf)
    val text = if (fs.isFile(marker)) graft.etl.WarehouseFs.readString(fs, marker).trim else "<missing>"
    if (text != s"$lo $hi") throw new CheckFailed(s"_complete marker of blockRange=$r reads '$text'")
  }

  val ops: IndexedSeq[Op] = IndexedSeq(ingestOp(first, last))

  override def afterPass(): Map[String, Double] = {
    val root = new Path(warehouse)
    val fs = root.getFileSystem(conf)
    val files = ChainPayloads.Tables.flatMap { t =>
      val it = fs.listFiles(new Path(root, t), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).toList
    }
    val partitions = files.map(_.getPath.getParent.toString).distinct.size
    Map("blocks" -> (last - first + 1).toDouble, "stored_bytes" -> files.map(_.getLen).sum.toDouble,
      "files" -> files.size.toDouble, "partitions" -> partitions.toDouble)
  }

  override def close(): Unit = stub.close()
}

object ChainIngest {
  /** 1000-block ranges per pass: 3000 blocks, 3 blockRange partitions,
    * which keeps a run near 30 s on four cores and leaves a core for the
    * in-process stub node. */
  val Ranges = 3

  /** First block of the seed's fixture range, aligned to a range. */
  def firstBlock(seed: Long): Long =
    Load.Batch * new java.util.SplittableRandom(seed).nextLong(1L, 100000L)

  def parquetRows(dir: Path, conf: org.apache.hadoop.conf.Configuration): Long = {
    val fs = dir.getFileSystem(conf)
    if (!fs.isDirectory(dir)) 0L
    else fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
