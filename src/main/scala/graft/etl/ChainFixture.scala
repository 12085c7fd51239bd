package graft.etl

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, SparkSession}

/** RPC-shaped records, mirroring what `eth_getBlockByNumber(n, true)` and
  * `eth_getBlockReceipts(n)` return (reference: src/main.rs:173-174, field
  * shapes per ethers' Block<Transaction>/TransactionReceipt consumed at
  * src/main.rs:176-290). Field names use the RPC-side spelling (`author`,
  * `unclesHash`) so the B1 projection's renames are exercised for real.
  */
case class RpcLog(
    logIndex: Long,
    address: Array[Byte],
    topics: Seq[Array[Byte]],
    data: Array[Byte],
    removed: Boolean)

case class RpcReceipt(
    transactionHash: Array[Byte],
    transactionIndex: Long,
    contractAddress: Option[Array[Byte]],
    cumulativeGasUsed: BigDecimal,
    effectiveGasPrice: Option[BigDecimal],
    gasUsed: BigDecimal,
    logsBloom: Array[Byte],
    root: Option[Array[Byte]],     // pre-EIP-658
    status: Option[Long],          // post-EIP-658 (mutually exclusive with root)
    logs: Seq[RpcLog])

case class RpcTx(
    hash: Array[Byte],
    chainId: Option[BigDecimal],
    txType: Option[Long],
    from: Array[Byte],
    to: Option[Array[Byte]],
    value: Array[Byte],            // u256 canonical 32-byte BE
    nonce: BigDecimal,
    input: Array[Byte],
    gas: BigDecimal,
    gasPrice: Option[BigDecimal],
    maxFeePerGas: Option[BigDecimal],
    maxPriorityFeePerGas: Option[BigDecimal],
    r: Array[Byte],
    s: Array[Byte],
    v: Long,
    accessList: Option[String])

case class RpcWithdrawal(index: Long, validatorIndex: Long, address: Array[Byte], amount: BigDecimal)

case class RpcBlock(
    number: Long,
    hash: Array[Byte],
    parentHash: Array[Byte],
    uncles: Seq[Array[Byte]],
    unclesHash: Array[Byte],       // renamed -> sha3Uncles by B1 (main.rs:185)
    totalDifficulty: Array[Byte],  // u256 binary
    author: Array[Byte],           // renamed -> miner by B1 (main.rs:188)
    difficulty: Array[Byte],       // u256 binary
    nonce: Array[Byte],
    mixHash: Array[Byte],
    baseFeePerGas: Option[BigDecimal],
    gasLimit: BigDecimal,
    gasUsed: BigDecimal,
    stateRoot: Array[Byte],
    transactionsRoot: Array[Byte],
    receiptsRoot: Array[Byte],
    logsBloom: Array[Byte],
    withdrawalsRoot: Option[Array[Byte]],
    extraData: Array[Byte],
    timestamp: BigDecimal,
    size: BigDecimal,
    transactions: Seq[RpcTx],
    withdrawals: Option[Seq[RpcWithdrawal]])

/** Block-receipts pair as returned by the second RPC of the ingest loop. */
case class BlockReceipts(blockNumber: Long, receipts: Seq[RpcReceipt])

/** One block as one read returns it: both RPCs' results in one row.
  * `number` repeats `block.number` at the top level, where it stays a
  * non-nullable column (a field read out of the nested, nullable `block`
  * struct would be nullable), so the flattened tables keep the schemas of
  * the blocks ⋈ receipts join. */
case class BlockWithReceipts(number: Long, block: RpcBlock, receipts: Seq[RpcReceipt])

/** Deterministic, partition-parallel synthetic chain source (SURVEY §2 A1-A3).
  *
  * The reference's scan driver is a *sequential* `for i in from..=to` loop
  * (src/main.rs:172) issuing 2 RPCs per block. Spark-first, the seed is
  * `spark.range(from, to+1)` — each task generates (in production: fetches)
  * a contiguous sub-range of blocks, so a 1000-executor cluster ingests
  * 1000 ranges concurrently instead of one block at a time. The generator
  * is pure per block number (SHA-256 streams keyed by (tag, n)), so any
  * re-run or task retry reproduces identical rows — the property that makes
  * D5's idempotent re-load testable.
  */
object ChainFixture {

  private def sha(tag: String, n: Long, i: Long = 0): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"$tag:$n:$i".getBytes(StandardCharsets.UTF_8))
    md.digest()
  }
  private def addr(tag: String, n: Long, i: Long = 0): Array[Byte] = sha(tag, n, i).take(20)
  private def dec(v: Long): BigDecimal = BigDecimal(v)

  /** Shanghai boundary for the fixture chain: withdrawals exist only after
    * this height (mirrors `if let Some(withdraws)`, main.rs:277). */
  val ShanghaiAt = 16L
  /** EIP-658 boundary: receipts carry `root` before, `status` after
    * (main.rs:251-252 comments; DDL COMMENTs main.rs:120-121). */
  val Eip658At = 8L

  def genBlock(n: Long): RpcBlock = {
    val nTx = (n % 5).toInt + 1
    val baseFee = if (n >= Eip658At) Some(dec(1_000_000_000L + n)) else None
    val txs = (0 until nTx).map { j =>
      val legacy = (n + j) % 3 == 0
      RpcTx(
        hash = sha("tx", n, j),
        chainId = if (legacy) None else Some(dec(1)),
        txType = if (legacy) None else Some(2L),
        from = addr("from", n, j),
        to = if ((n + j) % 7 == 0) None else Some(addr("to", n, j)), // contract creation
        value = graft.types.U256.toBytes32(BigInt(n) * 1000000 + j),
        nonce = dec(n + j),
        input = sha("input", n, j).take(((n + j) % 16).toInt),
        gas = dec(21000 + j * 1000),
        gasPrice = if (legacy) Some(dec(2_000_000_000L)) else None,
        maxFeePerGas = if (legacy) None else Some(dec(3_000_000_000L)),
        maxPriorityFeePerGas = if (legacy) None else Some(dec(1_000_000L)),
        r = sha("r", n, j),
        s = sha("s", n, j),
        v = (n + j) % 2,
        accessList = if (legacy) None else Some(s"""[{"address":"0x${j}","storageKeys":[]}]"""))
    }
    val withdrawals =
      if (n >= ShanghaiAt) Some((0 until (n % 3).toInt + 1).map { j =>
        RpcWithdrawal(n * 16 + j, (n + j) % 1000, addr("waddr", n, j), dec(32_000_000L + j))
      })
      else None
    RpcBlock(
      number = n,
      hash = sha("block", n),
      parentHash = sha("block", n - 1),
      uncles = if (n % 11 == 0) Seq(sha("uncle", n)) else Seq.empty,
      unclesHash = sha("uncleshash", n),
      totalDifficulty = graft.types.U256.toBytes32(BigInt("58750003716598352816469") + n),
      author = addr("miner", n),
      difficulty = graft.types.U256.toBytes32(if (n < ShanghaiAt) BigInt(12_000_000_000_000L) else BigInt(0)),
      nonce = sha("nonce", n).take(8),
      mixHash = sha("mix", n),
      baseFeePerGas = baseFee,
      gasLimit = dec(30_000_000L),
      gasUsed = dec(21000L * nTx),
      stateRoot = sha("state", n),
      transactionsRoot = sha("txroot", n),
      receiptsRoot = sha("rcroot", n),
      logsBloom = sha("bloom", n),
      withdrawalsRoot = if (n >= ShanghaiAt) Some(sha("wroot", n)) else None,
      extraData = sha("extra", n).take(4),
      timestamp = dec(1_600_000_000L + n * 12),
      size = dec(50_000L + n % 1000),
      transactions = txs,
      withdrawals = withdrawals)
  }

  def genReceipts(n: Long): BlockReceipts = {
    val nTx = (n % 5).toInt + 1
    val rs = (0 until nTx).map { j =>
      val nLogs = ((n + j) % 3).toInt
      val logs = (0 until nLogs).map { k =>
        RpcLog(
          logIndex = j * 8 + k,
          address = addr("lgaddr", n, j * 8 + k),
          topics = (0 to ((n + k) % 3).toInt).map(t => sha("topic", n, j * 64 + k * 8 + t)),
          data = sha("lgdata", n, j * 8 + k).take(((n + k) % 24).toInt + 8),
          removed = false)
      }
      RpcReceipt(
        transactionHash = sha("tx", n, j),
        transactionIndex = j,
        contractAddress = if ((n + j) % 7 == 0) Some(addr("ctr", n, j)) else None,
        cumulativeGasUsed = dec(21000L * (j + 1)),
        effectiveGasPrice = Some(dec(2_000_000_000L + n % 1000)),
        gasUsed = dec(21000L + j),
        logsBloom = sha("rbloom", n, j),
        root = if (n < Eip658At) Some(sha("rroot", n, j)) else None,
        status = if (n >= Eip658At) Some((n + j) % 2) else None,
        logs = logs)
    }
    BlockReceipts(n, rs)
  }

  /** A1+A2: partitionable block scan with embedded transactions. */
  def blocks(spark: SparkSession, from: Long, to: Long): Dataset[RpcBlock] = {
    import spark.implicits._
    spark.range(from, to + 1).as[Long].map(genBlock)
  }

  /** A3: per-block receipt arrays (aligned with the block's tx order). */
  def receipts(spark: SparkSession, from: Long, to: Long): Dataset[BlockReceipts] = {
    import spark.implicits._
    spark.range(from, to + 1).as[Long].map(genReceipts)
  }
}
