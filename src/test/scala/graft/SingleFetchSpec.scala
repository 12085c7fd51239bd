package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.etl.{Flatten, Load}
import graft.sources.BlockFetcher

/** The ingest reads each block once: one `eth_getBlockByNumber` and one
  * `eth_getBlockReceipts` per block feed all four chain tables, and the
  * tables, their schemas and the landed rows are those of the two-scan
  * blocks ⋈ receipts path. */
class SingleFetchSpec extends SparkSuite {

  /** A JSON-RPC stub node serving the fixture chain that counts the calls
    * per (method, block). */
  private def withCountingNode[T](f: (String, ConcurrentHashMap[(String, Long), LongAdder]) => T): T = {
    val mapper = new ObjectMapper()
    val calls = new ConcurrentHashMap[(String, Long), LongAdder]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val json = mapper.readTree(req)
        val n = java.lang.Long.parseLong(json.get("params").get(0).asText().stripPrefix("0x"), 16)
        calls.computeIfAbsent((json.get("method").asText(), n), _ => new LongAdder).increment()
        val body = RpcStubWire.respond(req, mapper).getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/", calls)
    finally server.stop(0)
  }

  private val Tables = Seq("blocks", "transactions", "events", "withdraws")

  test("Load.ingest issues exactly one eth_getBlockByNumber and one eth_getBlockReceipts per block") {
    val (from, to) = (990L, 1029L) // two blockRange partitions
    assert(BlockFetcher.blocksWithReceipts(spark, from, to, None).rdd.getNumPartitions > 1)
    val whHttp = java.nio.file.Files.createTempDirectory("graft_one_read_http").toString
    val whFixture = java.nio.file.Files.createTempDirectory("graft_one_read_fixture").toString
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    withCountingNode { (url, calls) =>
      Load.ingest(spark, from, to, whHttp, Some(url))
      val want = for {
        m <- Seq("eth_getBlockByNumber", "eth_getBlockReceipts")
        n <- from to to
      } yield (m, n) -> 1L
      assert(calls.asScala.view.mapValues(_.sum).toMap == want.toMap)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == persisted,
      "the ingest must release its read")
    Load.ingest(spark, from, to, whFixture)
    Tables.foreach { t =>
      val http = spark.read.parquet(s"$whHttp/$t")
      val fixture = spark.read.parquet(s"$whFixture/$t")
      assert(fixture.count() > 0, t)
      assert(http.exceptAll(fixture).isEmpty && fixture.exceptAll(http).isEmpty,
        s"table $t over HTTP must equal the fixture ingest row for row")
    }
  }

  test("the four tables of one read keep the two-scan schemas and join nothing") {
    val (from, to) = (0L, 29L) // pre/post EIP-658 and Shanghai block shapes
    val blocks = BlockFetcher.blocks(spark, from, to, None)
    val receipts = BlockFetcher.receipts(spark, from, to, None)
    val twoScan = Map(
      "blocks" -> Flatten.blockRows(blocks),
      "transactions" -> Flatten.transactionRows(blocks, receipts),
      "events" -> Flatten.eventRows(blocks, receipts),
      "withdraws" -> Flatten.withdrawalRows(blocks))
    Load.withFetch(spark, from, to, None) { fetched =>
      val oneRead = Load.tables(fetched)
      assert(oneRead.keySet == Tables.toSet)
      Tables.foreach { t =>
        val df = oneRead(t)._1
        // StructType equality: names, types and nullability alike
        assert(df.schema == twoScan(t).schema, t)
        assert(df.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty, t)
        assert(df.exceptAll(twoScan(t)).isEmpty && twoScan(t).exceptAll(df).isEmpty, t)
      }
    }
  }
}
