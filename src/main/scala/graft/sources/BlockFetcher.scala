package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.etl.{BlockReceipts, BlockWithReceipts, ChainFixture, RpcBlock, RpcLog, RpcReceipt, RpcTx, RpcWithdrawal}

/** A2/A3 transport abstraction: one instance per scan partition, issuing
  * the reference's two RPCs per block (`eth_getBlockByNumber(n, true)` +
  * `eth_getBlockReceipts(n)`, reference: src/main.rs:173-174). The DSv2
  * reader and the ETL are written against this trait; which transport
  * backs it is a per-job option.
  */
trait BlockFetcher extends AutoCloseable {
  def blockWithTxs(n: Long): RpcBlock
  def blockReceipts(n: Long): BlockReceipts

  /** Both RPCs of block `n`, one after the other, as one row. */
  def blockWithReceipts(n: Long): BlockWithReceipts = {
    val b = blockWithTxs(n)
    BlockWithReceipts(b.number, b, blockReceipts(n).receipts)
  }

  override def close(): Unit = ()
}

/** Offline transport: the deterministic generator (sandbox has no node). */
object FixtureFetcher extends BlockFetcher {
  override def blockWithTxs(n: Long): RpcBlock = ChainFixture.genBlock(n)
  override def blockReceipts(n: Long): BlockReceipts = ChainFixture.genReceipts(n)
}

/** Ethereum JSON-RPC wire decoding, shared by the HTTP and WebSocket
  * transports (the payloads are byte-identical across transports —
  * only the framing differs).
  *
  * Parsing uses the standard quantity/data hex encodings of the Ethereum
  * JSON-RPC wire format; `miner`/`author` and `sha3Uncles`/`unclesHash`
  * are both accepted (geth vs OpenEthereum spellings, the two shapes the
  * reference's ethers client normalizes, main.rs:176-290).
  */
private[sources] object RpcWire {

  // ---- hex codecs (0x-prefixed DATA / QUANTITY per the JSON-RPC spec) ----
  def hexBytes(n: JsonNode): Array[Byte] = {
    val s0 = n.asText().stripPrefix("0x")
    val s = if (s0.length % 2 == 1) "0" + s0 else s0
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }
  def hexU256(n: JsonNode): Array[Byte] =
    graft.types.U256.toBytes32(BigInt(n.asText().stripPrefix("0x"), 16))
  def hexLong(n: JsonNode): Long =
    java.lang.Long.parseLong(n.asText().stripPrefix("0x"), 16)
  def hexDec(n: JsonNode): BigDecimal =
    BigDecimal(BigInt(n.asText().stripPrefix("0x"), 16))
  def opt(o: JsonNode, f: String): Option[JsonNode] =
    Option(o.get(f)).filterNot(_.isNull)

  def parseTx(t: JsonNode): RpcTx = RpcTx(
    hash = hexBytes(t.get("hash")),
    chainId = opt(t, "chainId").map(hexDec),
    txType = opt(t, "type").map(hexLong),
    from = hexBytes(t.get("from")),
    to = opt(t, "to").map(hexBytes),
    value = hexU256(t.get("value")),
    nonce = hexDec(t.get("nonce")),
    input = hexBytes(t.get("input")),
    gas = hexDec(t.get("gas")),
    gasPrice = opt(t, "gasPrice").map(hexDec),
    maxFeePerGas = opt(t, "maxFeePerGas").map(hexDec),
    maxPriorityFeePerGas = opt(t, "maxPriorityFeePerGas").map(hexDec),
    r = hexBytes(t.get("r")),
    s = hexBytes(t.get("s")),
    v = hexLong(t.get("v")),
    accessList = opt(t, "accessList").map(_.toString))

  def parseWithdrawal(w: JsonNode): RpcWithdrawal = RpcWithdrawal(
    index = hexLong(w.get("index")),
    validatorIndex = hexLong(w.get("validatorIndex")),
    address = hexBytes(w.get("address")),
    amount = hexDec(w.get("amount")))

  def parseBlock(n: Long, b: JsonNode): RpcBlock = {
    if (b == null || b.isNull)
      throw new NoSuchElementException(s"block $n not found")
    import scala.jdk.CollectionConverters._
    RpcBlock(
      number = hexLong(b.get("number")),
      hash = hexBytes(b.get("hash")),
      parentHash = hexBytes(b.get("parentHash")),
      uncles = b.get("uncles").elements().asScala.map(hexBytes).toSeq,
      unclesHash = hexBytes(opt(b, "sha3Uncles").orElse(opt(b, "unclesHash")).getOrElse(
        throw new NoSuchElementException(s"block $n: no sha3Uncles/unclesHash field"))),
      // geth >= 1.14 omits totalDifficulty from eth_getBlockByNumber; the
      // reference's ethers client normalizes it to zero the same way.
      totalDifficulty = opt(b, "totalDifficulty").map(hexU256)
        .getOrElse(graft.types.U256.toBytes32(BigInt(0))),
      author = hexBytes(opt(b, "miner").orElse(opt(b, "author")).getOrElse(
        throw new NoSuchElementException(s"block $n: no miner/author field"))),
      difficulty = opt(b, "difficulty").map(hexU256)
        .getOrElse(graft.types.U256.toBytes32(BigInt(0))),
      nonce = opt(b, "nonce").map(hexBytes).getOrElse(new Array[Byte](8)),
      mixHash = opt(b, "mixHash").map(hexBytes).getOrElse(new Array[Byte](32)),
      baseFeePerGas = opt(b, "baseFeePerGas").map(hexDec),
      gasLimit = hexDec(b.get("gasLimit")),
      gasUsed = hexDec(b.get("gasUsed")),
      stateRoot = hexBytes(b.get("stateRoot")),
      transactionsRoot = hexBytes(b.get("transactionsRoot")),
      receiptsRoot = hexBytes(b.get("receiptsRoot")),
      logsBloom = hexBytes(b.get("logsBloom")),
      withdrawalsRoot = opt(b, "withdrawalsRoot").map(hexBytes),
      extraData = hexBytes(b.get("extraData")),
      timestamp = hexDec(b.get("timestamp")),
      size = hexDec(b.get("size")),
      transactions = b.get("transactions").elements().asScala.map(parseTx).toSeq,
      withdrawals = opt(b, "withdrawals")
        .map(_.elements().asScala.map(parseWithdrawal).toSeq))
  }

  def parseReceipts(n: Long, arr: JsonNode): BlockReceipts = {
    import scala.jdk.CollectionConverters._
    val rs = arr.elements().asScala.map { r =>
      RpcReceipt(
        transactionHash = hexBytes(r.get("transactionHash")),
        transactionIndex = hexLong(r.get("transactionIndex")),
        contractAddress = opt(r, "contractAddress").map(hexBytes),
        cumulativeGasUsed = hexDec(r.get("cumulativeGasUsed")),
        effectiveGasPrice = opt(r, "effectiveGasPrice").map(hexDec),
        gasUsed = hexDec(r.get("gasUsed")),
        logsBloom = hexBytes(r.get("logsBloom")),
        root = opt(r, "root").map(hexBytes),
        status = opt(r, "status").map(hexLong),
        logs = r.get("logs").elements().asScala.map { l =>
          RpcLog(
            logIndex = hexLong(l.get("logIndex")),
            address = hexBytes(l.get("address")),
            topics = l.get("topics").elements().asScala.map(hexBytes).toSeq,
            data = hexBytes(l.get("data")),
            removed = l.get("removed").asBoolean())
        }.toSeq)
    }.toSeq
    BlockReceipts(n, rs)
  }
}

/** HTTP JSON-RPC transport. One client + connection per partition reader
  * (constructed executor-side), requests issued sequentially over the
  * partition's contiguous sub-range — the reference's loop, parallelized
  * across partitions instead of across blocks.
  */
class HttpJsonRpcFetcher(endpoint: String) extends BlockFetcher {

  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()
  private var nextId = 0L

  private def rpc(method: String, params: String): JsonNode = {
    nextId += 1
    val body = s"""{"jsonrpc":"2.0","id":$nextId,"method":"$method","params":$params}"""
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    val resp = send(req)
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"$method HTTP ${resp.statusCode()}")
    val root = mapper.readTree(resp.body())
    if (root.has("error"))
      throw new java.io.IOException(s"$method RPC error: ${root.get("error")}")
    root.get("result")
  }

  /** Sends `req`, retrying a transport failure — an `IOException` before
    * any reply, such as a pooled keep-alive connection the server closed
    * while it was being reused ("header parser received no bytes") — up
    * to [[HttpJsonRpcFetcher.Attempts]] sends in all. Both methods are
    * idempotent reads. A reply is final: a non-200 status or a JSON-RPC
    * `error` is never retried. */
  private def send(req: HttpRequest, attempt: Int = 1): HttpResponse[String] =
    try client.send(req, HttpResponse.BodyHandlers.ofString())
    catch {
      case _: java.io.IOException if attempt < HttpJsonRpcFetcher.Attempts => send(req, attempt + 1)
    }

  override def blockWithTxs(n: Long): RpcBlock =
    RpcWire.parseBlock(n, rpc("eth_getBlockByNumber", s"""["0x${n.toHexString}",true]"""))

  override def blockReceipts(n: Long): BlockReceipts =
    RpcWire.parseReceipts(n, rpc("eth_getBlockReceipts", s"""["0x${n.toHexString}"]"""))
}

object HttpJsonRpcFetcher {
  /** Sends per RPC call when the transport fails before a reply. */
  val Attempts = 3
}

/** WebSocket JSON-RPC transport — the reference's actual wire
  * (`Provider::<Ws>::connect`, reference: src/main.rs:50): one persistent
  * connection per partition reader carrying the same request/response
  * JSON-RPC payloads as HTTP (the reference uses no subscriptions, so
  * request/response over WS is full transport parity). Responses are
  * correlated by JSON-RPC id, so the transport stays correct even if a
  * node answers out of order; text frames may arrive fragmented and are
  * reassembled per the WebSocket message contract. Built on the JDK's
  * `java.net.http.WebSocket` — no extra dependency. */
class WsJsonRpcFetcher(endpoint: String, timeoutSec: Long = 60L) extends BlockFetcher {

  private val mapper = new ObjectMapper()
  private val pending = new ConcurrentHashMap[Long, CompletableFuture[JsonNode]]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  // subscription id -> notification handler; pushes that beat the
  // caller's handler registration (the node may push immediately after
  // its subscribe response, on the listener thread, before
  // subscribeNewHeads() has stored the handler) are buffered and
  // race-safely drained by [[PushRouter]] — no head is dropped
  private val pushes = new PushRouter[JsonNode]()

  private val listener = new WebSocket.Listener {
    private val buf = new java.lang.StringBuilder
    override def onText(ws: WebSocket, data: CharSequence, last: Boolean): java.util.concurrent.CompletionStage[_] = {
      buf.append(data)
      if (last) {
        val msg = buf.toString; buf.setLength(0)
        val root = mapper.readTree(msg)
        val idNode = root.get("id")
        if (idNode != null && !idNode.isNull) {
          val f = pending.remove(idNode.asLong())
          if (f != null) f.complete(root)
        } else {
          // push frame: route eth_subscription notifications to their
          // handler; anything else is ignored as before
          val m = root.get("method")
          if (m != null && m.asText() == "eth_subscription") {
            val p = root.get("params")
            pushes.push(p.get("subscription").asText(), p.get("result"))
          }
        }
      }
      ws.request(1)
      null
    }
    override def onError(ws: WebSocket, error: Throwable): Unit = {
      pending.values().forEach(_.completeExceptionally(error))
      pending.clear()
    }
    override def onClose(ws: WebSocket, statusCode: Int, reason: String): java.util.concurrent.CompletionStage[_] = {
      val err = new java.io.IOException(s"WebSocket closed ($statusCode): $reason")
      pending.values().forEach(_.completeExceptionally(err))
      pending.clear()
      null
    }
  }

  private val ws: WebSocket = HttpClient.newHttpClient()
    .newWebSocketBuilder()
    .buildAsync(URI.create(endpoint), listener)
    .join()

  private def rpc(method: String, params: String): JsonNode = {
    val id = nextId.incrementAndGet()
    val fut = new CompletableFuture[JsonNode]()
    pending.put(id, fut)
    val body = s"""{"jsonrpc":"2.0","id":$id,"method":"$method","params":$params}"""
    // A send that dies without onError/onClose firing must not strand the
    // pending entry: no response can ever complete it.
    try ws.sendText(body, true).join()
    catch { case e: Throwable => pending.remove(id); throw e }
    val root =
      try fut.get(timeoutSec, TimeUnit.SECONDS)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          pending.remove(id)
          throw new java.io.IOException(s"$method timed out after ${timeoutSec}s", e)
      }
    if (root.has("error") && !root.get("error").isNull)
      throw new java.io.IOException(s"$method RPC error: ${root.get("error")}")
    root.get("result")
  }

  override def blockWithTxs(n: Long): RpcBlock =
    RpcWire.parseBlock(n, rpc("eth_getBlockByNumber", s"""["0x${n.toHexString}",true]"""))

  override def blockReceipts(n: Long): BlockReceipts =
    RpcWire.parseReceipts(n, rpc("eth_getBlockReceipts", s"""["0x${n.toHexString}"]"""))

  /** `eth_subscribe("newHeads")`: every pushed head's block number goes
    * to `onHead` (listener thread — keep it cheap and non-blocking).
    * Returns the node's subscription id for [[unsubscribe]]. */
  def subscribeNewHeads(onHead: Long => Unit): String = {
    val handler: JsonNode => Unit =
      head => onHead(RpcWire.hexLong(head.get("number")))
    val id = rpc("eth_subscribe", """["newHeads"]""").asText()
    // heads pushed before the handler landed were buffered by the
    // listener; register-then-drain is TOCTOU-safe inside PushRouter
    // (set semantics downstream — the ingest keys on block number — so
    // drain-after-register ordering is fine)
    pushes.register(id, handler)
    id
  }

  def unsubscribe(id: String): Unit = {
    pushes.remove(id)
    rpc("eth_unsubscribe", s"""["$id"]""")
    ()
  }

  override def close(): Unit = {
    try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
      .orTimeout(5, TimeUnit.SECONDS).join()
    catch { case _: Throwable => ws.abort() }
  }
}

object BlockFetcher {
  /** Transport selection for a scan partition: `ws://`/`wss://` endpoints
    * take the WebSocket client (the reference's transport, main.rs:50),
    * any other URL the HTTP JSON-RPC client; absent, the offline fixture. */
  def forEndpoint(endpoint: Option[String]): BlockFetcher =
    endpoint match {
      case Some(url) if url.startsWith("ws://") || url.startsWith("wss://") =>
        new WsJsonRpcFetcher(url)
      case Some(url) => new HttpJsonRpcFetcher(url)
      case None => FixtureFetcher
    }

  /** Per-task fetcher whose transport (WS connection / HTTP client) is
    * released when the task completes — success, failure, or interruption
    * — not when the JVM next GCs. */
  private def taskScoped(endpoint: Option[String]): BlockFetcher = {
    val f = forEndpoint(endpoint)
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => f.close())
    f
  }

  /** Distributed extract over any transport: each task constructs its
    * own fetcher for its contiguous sub-range and applies `read` to every
    * block of it (the parallel form of the reference's sequential loop,
    * main.rs:172). */
  private def scan[T: org.apache.spark.sql.Encoder](spark: org.apache.spark.sql.SparkSession,
      from: Long, to: Long, endpoint: Option[String])(
      read: (BlockFetcher, Long) => T): org.apache.spark.sql.Dataset[T] = {
    import spark.implicits._
    spark.range(from, to + 1).as[Long].mapPartitions { it =>
      val f = taskScoped(endpoint)
      it.map(read(f, _))
    }
  }

  /** The ingest's one read: a row per block carrying the block and its
    * receipts, fetched with exactly the reference's two RPCs per block
    * over one transport per partition. Every chain table flattens from
    * this scan ([[graft.etl.Load.tables]]). */
  def blocksWithReceipts(spark: org.apache.spark.sql.SparkSession, from: Long, to: Long,
      endpoint: Option[String]): org.apache.spark.sql.Dataset[BlockWithReceipts] = {
    import spark.implicits._
    scan(spark, from, to, endpoint)(_.blockWithReceipts(_))
  }

  /** Blocks alone: `eth_getBlockByNumber` per block. */
  def blocks(spark: org.apache.spark.sql.SparkSession, from: Long, to: Long,
      endpoint: Option[String]): org.apache.spark.sql.Dataset[RpcBlock] = {
    import spark.implicits._
    scan(spark, from, to, endpoint)(_.blockWithTxs(_))
  }

  /** Receipts alone: `eth_getBlockReceipts` per block. */
  def receipts(spark: org.apache.spark.sql.SparkSession, from: Long, to: Long,
      endpoint: Option[String]): org.apache.spark.sql.Dataset[BlockReceipts] = {
    import spark.implicits._
    scan(spark, from, to, endpoint)(_.blockReceipts(_))
  }
}
