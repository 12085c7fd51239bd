package graft

import org.apache.spark.sql.SparkSession

/** CLI ingest entry point, mirroring the reference's flags
  * (reference: src/main.rs:16-44 — `--schema`, `--from A`, `--to B`):
  *
  *   sbt "runMain graft.Ingest --from 0 --to 999 --warehouse /path/wh"
  *   sbt "runMain graft.Ingest --schema --warehouse /path/wh"
  *   ... [--endpoint http://node:8545/]  # JSON-RPC node; omit = fixture
  *   ... [--clickhouse host[:port]] [--clickhouse-lz4]  # live TCP load
  *
  * `--schema` bootstraps the four CREATE TABLE IF NOT EXISTS definitions
  * (A4); a from/to range runs the full extract→flatten→load pipeline.
  */
object Ingest {

  case class Config(
      from: Long = 0L,
      to: Long = -1L,
      warehouse: String = "/tmp/graft_warehouse",
      schema: Boolean = false,
      resume: Boolean = false,
      endpoint: Option[String] = None,
      sink: etl.TableSink = etl.ParquetSink,
      clickhouse: Option[(String, Int)] = None,
      clickhouseLz4: Boolean = false)

  /** `--sink` names the D1 landing encoding ([[etl.TableSink]]). */
  def sinkFor(name: String): etl.TableSink = name match {
    case "parquet" => etl.ParquetSink
    case "orc" => etl.OrcSink
    case "jsonl" => etl.JsonLinesSink
    case "native" => etl.ClickHouseNativeSink
    case other => throw new IllegalArgumentException(
      s"unknown sink '$other' — expected parquet|orc|jsonl|native")
  }

  def parse(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--from" :: v :: t => loop(t, c.copy(from = v.toLong))
      case "--to" :: v :: t => loop(t, c.copy(to = v.toLong))
      case "--warehouse" :: v :: t => loop(t, c.copy(warehouse = v))
      case "--schema" :: t => loop(t, c.copy(schema = true))
      case "--resume" :: t => loop(t, c.copy(resume = true))
      case "--endpoint" :: v :: t => loop(t, c.copy(endpoint = Some(v)))
      case "--sink" :: v :: t => loop(t, c.copy(sink = sinkFor(v)))
      case "--clickhouse" :: v :: t =>
        val (host, port) = v.split(':') match {
          case Array(h) => (h, 9000)
          case Array(h, p) => (h, p.toInt)
          case _ => throw new IllegalArgumentException(s"bad --clickhouse '$v' (host[:port])")
        }
        loop(t, c.copy(clickhouse = Some((host, port))))
      case "--clickhouse-lz4" :: t => loop(t, c.copy(clickhouseLz4 = true))
      case Nil => c
      case bad :: _ => throw new IllegalArgumentException(
        s"unknown argument '$bad' — expected [--schema] [--from A --to B] " +
          "[--warehouse PATH] [--resume] [--endpoint URL] [--sink parquet|orc|jsonl|native] " +
          "[--clickhouse host[:port]] [--clickhouse-lz4]")
    }
    loop(args.toList, Config())
  }

  /** Session-injected body, separated from main() so specs can drive it
    * on an existing session.
    *
    * `--clickhouse` realizes the reference's actual load target
    * (`load(provider, clickhouse_url)`, main.rs:46-48): `--schema`
    * bootstraps the server-side database + four ReplacingMergeTree
    * tables over the native TCP protocol, and an ingest range streams
    * the same flattened dag into `ethereum.<table>` with one
    * executor-side connection per partition — IN ADDITION to the local
    * warehouse, which stays the durable layer carrying the resume
    * markers and rollback machinery the reference delegates to
    * ReplacingMergeTree. Both sinks load from one read of the range, so
    * each block is fetched once; under `--resume` the warehouse fetches
    * only its incomplete ranges and the server insert reads the whole
    * range once more. */
  def run(spark: SparkSession, c: Config): Unit = {
    if (c.schema) {
      etl.Load.createTables(spark, c.warehouse)
      c.clickhouse.foreach { case (host, port) =>
        val client = new sources.ChTcpClient(host, port, compress = c.clickhouseLz4)
        try {
          client.execute(sources.ChDdl.createDatabaseSql)
          types.Schemas.dedupKeys.keys.toSeq.sorted
            .foreach(t => client.execute(sources.ChDdl.createTableSql(t)))
        } finally client.close()
      }
    }
    if (c.to >= c.from && c.to >= 0) {
      if (c.resume) {
        val done = etl.Load.ingestResumable(spark, c.from, c.to, c.warehouse, c.endpoint, c.sink)
        System.err.println(s"[ingest] resumed: ${done.size} range(s) ingested")
        if (c.clickhouse.isDefined)
          etl.Load.withFetch(spark, c.from, c.to, c.endpoint)(insertClickHouse(_, c))
      } else etl.Load.withFetch(spark, c.from, c.to, c.endpoint) { fetched =>
        // one read feeds both sinks
        etl.Load.land(fetched, c.from, c.to, c.warehouse, c.sink)
        insertClickHouse(fetched, c)
      }
    }
  }

  /** Streams the four tables of one read into `ethereum.<table>` on the
    * `--clickhouse` server, if one is given. */
  private def insertClickHouse(fetched: org.apache.spark.sql.Dataset[etl.BlockWithReceipts],
      c: Config): Unit =
    c.clickhouse.foreach { case (host, port) =>
      etl.Load.tables(fetched).foreach {
        case (name, (df, _, _)) =>
          // the canonical schema (FixedString widths + nullability)
          // types the wire blocks so they match the bootstrap DDL —
          // the flatten casts drop metadata and widen nullability
          sources.ChTcpLoad.insert(df, host, port, s"ethereum.$name",
            compress = c.clickhouseLz4,
            canonical = Some(types.Schemas.tableSchema(name)))
      }
    }

  def main(args: Array[String]): Unit = {
    val c = parse(args.toIndexedSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, c) finally spark.stop()
  }
}
