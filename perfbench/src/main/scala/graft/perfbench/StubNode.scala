package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.RpcStubWire
import graft.etl.ChainFixture

/** The fixture chain's blocks `numbers`, serialized once into the
  * JSON-RPC wire shape the engine's transport specs use: one block payload
  * (`eth_getBlockByNumber(n, true)`) and one receipts payload
  * (`eth_getBlockReceipts(n)`) per block, plus the rows each warehouse
  * table should hold per block. */
final class ChainPayloads(val numbers: IndexedSeq[Long], threads: Int) {
  private val index: Map[Long, Int] = numbers.zipWithIndex.toMap
  private val blocks = new Array[Array[Byte]](numbers.size)
  private val receipts = new Array[Array[Byte]](numbers.size)
  private val rows = new Array[Array[Long]](numbers.size)

  locally {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = (t until numbers.size by threads).foreach { i =>
            val b = ChainFixture.genBlock(numbers(i))
            val r = ChainFixture.genReceipts(numbers(i))
            blocks(i) = RpcStubWire.blockJson(b).getBytes(UTF_8)
            receipts(i) = r.receipts.map(RpcStubWire.receiptJson).mkString("[", ",", "]").getBytes(UTF_8)
            rows(i) = Array(1L, b.transactions.size.toLong, r.receipts.map(_.logs.size.toLong).sum,
              b.withdrawals.map(_.size.toLong).getOrElse(0L))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  def block(n: Long): Option[Array[Byte]] = index.get(n).map(blocks)
  def receipts(n: Long): Option[Array[Byte]] = index.get(n).map(receipts)

  /** Expected rows of blocks, transactions, events and withdraws for the
    * served blocks in [lo, hi]. */
  def expectedRows(lo: Long, hi: Long): Map[String, Long] = {
    val in = numbers.indices.filter(i => numbers(i) >= lo && numbers(i) <= hi)
    ChainPayloads.Tables.zipWithIndex.map { case (t, k) => t -> in.map(rows(_)(k)).sum }.toMap
  }

  /** Order-sensitive fingerprint of every payload byte. */
  def fingerprint(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    numbers.indices.foreach { i => md.update(blocks(i)); md.update(receipts(i)) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object ChainPayloads {
  val Tables = Seq("blocks", "transactions", "events", "withdraws")
}

/** In-process JSON-RPC node serving [[ChainPayloads]] from memory over
  * the JDK HTTP server, with at most `threads` handler threads. Counts
  * calls and response bytes per method. */
final class StubNode(payloads: ChainPayloads, threads: Int) extends AutoCloseable {
  private val methods = Seq("eth_getBlockByNumber", "eth_getBlockReceipts")
  private val calls = methods.map(_ -> new LongAdder).toMap
  private val bytes = methods.map(_ -> new LongAdder).toMap

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-stub"); t.setDaemon(true); t
    }
  })
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  private val Method = "\"method\"\\s*:\\s*\"([A-Za-z_]+)\"".r.unanchored
  private val Id = "\"id\"\\s*:\\s*([0-9]+)".r.unanchored
  private val Param = "\"params\"\\s*:\\s*\\[\\s*\"0x([0-9a-fA-F]+)\"".r.unanchored

  private def handle(ex: HttpExchange): Unit =
    try {
      val req = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val (method, id, n) = (req, req, req) match {
        case (Method(m), Id(i), Param(h)) => (m, i, java.lang.Long.parseLong(h, 16))
        case _ => throw new IllegalArgumentException(s"bad request: $req")
      }
      val result = (method match {
        case "eth_getBlockByNumber" => payloads.block(n)
        case "eth_getBlockReceipts" => payloads.receipts(n)
        case m => throw new IllegalArgumentException(s"unknown method $m")
      }).getOrElse(throw new NoSuchElementException(s"block $n is not served"))
      val head = s"""{"jsonrpc":"2.0","id":$id,"result":""".getBytes(UTF_8)
      // one write: split writes of a small response stall on delayed ACKs
      val body = java.util.Arrays.copyOf(head, head.length + result.length + 1)
      System.arraycopy(result, 0, body, head.length, result.length)
      body(body.length - 1) = '}'
      ex.getResponseHeaders.set("Content-Type", "application/json")
      // No keep-alive: a pooled connection could be closed by the
      // client's pool cleanup while being reused ("HTTP/1.1 header parser
      // received no bytes", about once per million calls), which failed
      // whole runs.
      ex.getResponseHeaders.set("Connection", "close")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      calls(method).increment()
      bytes(method).add(body.length)
    } catch {
      case e: Exception =>
        val msg = String.valueOf(e.getMessage).getBytes(UTF_8)
        ex.sendResponseHeaders(500, msg.length)
        ex.getResponseBody.write(msg)
    } finally ex.close()

  /** (calls, response bytes) summed over both methods. */
  def totals(): (Long, Long) = (calls.values.map(_.sum).sum, bytes.values.map(_.sum).sum)

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
