package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.etl.{ChainFixture, Flatten}
import graft.sources.HttpJsonRpcFetcher

/** A2/A3 transport: the HTTP JSON-RPC fetcher against a stubbed node that
  * serves the fixture chain in the standard wire encoding (0x-hex
  * QUANTITY/DATA, geth field spellings — serializer in [[RpcStubWire]]).
  * Equality is checked through the flatten pipeline, where byte arrays
  * compare structurally. */
class HttpFetcherSpec extends SparkSuite {

  private def withStubNode[T](f: String => T): T = {
    val mapper = new ObjectMapper()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = RpcStubWire.respond(new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8), mapper)
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/")
    finally server.stop(0)
  }

  test("HTTP JSON-RPC fetcher parses blocks+receipts identically to the fixture") {
    withStubNode { url =>
      import spark.implicits._
      val fetcher = new HttpJsonRpcFetcher(url)
      // cover pre/post EIP-658 and pre/post Shanghai block shapes
      val heights = Seq(0L, 5L, ChainFixture.Eip658At, 17L, 22L)
      val viaHttp = heights.map(fetcher.blockWithTxs).toDS()
      val viaFixture = heights.map(ChainFixture.genBlock).toDS()
      val rcHttp = heights.map(fetcher.blockReceipts).toDS()
      val rcFixture = heights.map(ChainFixture.genReceipts).toDS()
      fetcher.close()
      val bH = Flatten.blockRows(viaHttp)
      val bF = Flatten.blockRows(viaFixture)
      assert(bH.except(bF).count() == 0 && bF.except(bH).count() == 0)
      val txH = Flatten.transactionRows(viaHttp, rcHttp)
      val txF = Flatten.transactionRows(viaFixture, rcFixture)
      assert(txH.count() == txF.count() && txH.count() > 0)
      assert(txH.except(txF).count() == 0 && txF.except(txH).count() == 0)
      val evH = Flatten.eventRows(viaHttp, rcHttp)
      val evF = Flatten.eventRows(viaFixture, rcFixture)
      assert(evH.except(evF).count() == 0 && evF.except(evH).count() == 0)
      val wdH = Flatten.withdrawalRows(viaHttp)
      val wdF = Flatten.withdrawalRows(viaFixture)
      assert(wdH.count() > 0)
      assert(wdH.except(wdF).count() == 0 && wdF.except(wdH).count() == 0)
    }
  }

  test("chainblocks DSv2 source reads through the HTTP endpoint option") {
    withStubNode { url =>
      val viaHttp = spark.read.format("chainblocks")
        .option("from", 0).option("to", 9).option("blocksPerPartition", 3)
        .option("endpoint", url).load()
      val offline = spark.read.format("chainblocks")
        .option("from", 0).option("to", 9).option("blocksPerPartition", 3).load()
      assert(viaHttp.count() == 10)
      assert(viaHttp.except(offline).count() == 0 && offline.except(viaHttp).count() == 0)
    }
  }

  /** A raw-socket JSON-RPC node answering one request per connection. It
    * reads the first `drop` requests and closes their connections
    * unanswered; the rest it answers with `status` and either the fixture
    * result or, when `rpcError`, a JSON-RPC `error`. */
  private final class FlakyNode(drop: Int, status: Int = 200, rpcError: Boolean = false)
      extends AutoCloseable {
    private val mapper = new ObjectMapper()
    private val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val connections = new java.util.concurrent.atomic.AtomicInteger()
    val url = s"http://127.0.0.1:${server.getLocalPort}/"

    private def readRequest(in: java.io.InputStream): String = {
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) {
        val c = in.read()
        if (c < 0) throw new java.io.EOFException("request ended early")
        head.append(c.toChar)
      }
      val len = "(?i)content-length:\\s*(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt)
        .getOrElse(0)
      new String(in.readNBytes(len), StandardCharsets.UTF_8)
    }

    private val thread = new Thread(() =>
      try while (true) {
        val socket = server.accept()
        try {
          val req = readRequest(socket.getInputStream)
          if (connections.incrementAndGet() > drop) {
            val id = mapper.readTree(req).get("id").asLong()
            val body = (if (rpcError) s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32000,"message":"no"}}"""
              else RpcStubWire.respond(req, mapper)).getBytes(StandardCharsets.UTF_8)
            val out = socket.getOutputStream
            out.write((s"HTTP/1.1 $status X\r\nContent-Type: application/json\r\n" +
              s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n")
              .getBytes(StandardCharsets.UTF_8))
            out.write(body)
            out.flush()
          }
        } finally socket.close()
      } catch { case _: java.io.IOException => () }) // the server socket closed
    thread.setDaemon(true)
    thread.start()

    override def close(): Unit = server.close()
  }

  test("HTTP fetcher retries a connection dropped before any reply") {
    val node = new FlakyNode(drop = 1)
    val fetcher = new HttpJsonRpcFetcher(node.url)
    try {
      val got = fetcher.blockWithTxs(22L)
      assert(RpcStubWire.blockJson(got) == RpcStubWire.blockJson(ChainFixture.genBlock(22L)))
      assert(node.connections.get() == 2)
    } finally { fetcher.close(); node.close() }
  }

  test("HTTP fetcher gives up after a bounded number of dropped connections") {
    val node = new FlakyNode(drop = Int.MaxValue)
    val fetcher = new HttpJsonRpcFetcher(node.url)
    try {
      intercept[java.io.IOException](fetcher.blockReceipts(3L))
      assert(node.connections.get() == HttpJsonRpcFetcher.Attempts)
    } finally { fetcher.close(); node.close() }
  }

  test("HTTP non-200 replies and JSON-RPC errors are final, not retried") {
    Seq(new FlakyNode(drop = 0, status = 500) -> "HTTP 500",
      new FlakyNode(drop = 0, rpcError = true) -> "RPC error").foreach { case (node, msg) =>
      val fetcher = new HttpJsonRpcFetcher(node.url)
      try {
        val e = intercept[java.io.IOException](fetcher.blockWithTxs(1L))
        assert(e.getMessage.contains(msg), e.getMessage)
        assert(node.connections.get() == 1)
      } finally { fetcher.close(); node.close() }
    }
  }
}
