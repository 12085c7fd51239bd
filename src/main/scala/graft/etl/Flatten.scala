package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.types.Schemas

/** B1-B8 projections and C1-C4 flattens, declaratively (SURVEY §2B/§2C).
  *
  * The reference's imperative loops (src/main.rs:176-290) become Catalyst
  * plans: `posexplode` supplies the positional index `enumerate()` did,
  * `arrays_zip` is the positional tx⋈receipt join (main.rs:210), nested
  * `explode` is the receipt→logs inner loop (main.rs:256-274). Parent
  * attributes (blockHash/Number/Timestamp) are denormalized onto child
  * rows by plain column retention through the explode — no join needed
  * (B8, main.rs:216,260,282). All of it stays inside whole-stage codegen;
  * nothing touches the driver.
  */
object Flatten {

  private val D = Schemas.U256Decimal

  /** B1: RPC block -> blocks row (renames author->miner main.rs:188,
    * unclesHash->sha3Uncles main.rs:185; typo'd withdrawlsRoot kept). */
  def blockRows(blocks: Dataset[RpcBlock]): DataFrame =
    blocks.select(
      col("hash"), col("number"), col("parentHash"), col("uncles"),
      col("unclesHash").as("sha3Uncles"),
      col("totalDifficulty"),
      col("author").as("miner"),
      col("difficulty"), col("nonce"), col("mixHash"),
      col("baseFeePerGas").cast(D).as("baseFeePerGas"),
      col("gasLimit").cast(D).as("gasLimit"),
      col("gasUsed").cast(D).as("gasUsed"),
      col("stateRoot"), col("transactionsRoot"), col("receiptsRoot"),
      col("logsBloom"),
      col("withdrawalsRoot").as("withdrawlsRoot"), // sic (main.rs:83)
      col("extraData"),
      col("timestamp").cast(D).as("timestamp"),
      col("size").cast(D).as("size"))

  /** The block's columns of the one-read scan: its fields at the top
    * level, with `number` taken from the row, where it is non-nullable. */
  private def blockColumns: Seq[Column] =
    Encoders.product[RpcBlock].schema.fieldNames.toSeq
      .map(f => if (f == "number") col("number") else col(s"block.$f"))

  /** The block half of the one-read scan — a projection, no second read. */
  private[etl] def blocksOf(read: Dataset[BlockWithReceipts]): Dataset[RpcBlock] =
    read.select(blockColumns: _*).as(Encoders.product[RpcBlock])

  /** The one-read scan in the columns of blocks ⋈ receipts: the block's
    * columns, then its `receipts` array — both came from one source
    * read, so no join is needed. */
  private def withReceipts(read: Dataset[BlockWithReceipts]): DataFrame =
    read.select(blockColumns :+ col("receipts"): _*)

  /** Blocks ⋈ their receipt arrays on block number (1:1), for callers
    * holding the two as separate datasets. */
  private def withReceipts(blocks: Dataset[RpcBlock], receipts: Dataset[BlockReceipts]): DataFrame =
    blocks.join(receipts.withColumnRenamed("blockNumber", "number"), Seq("number"))

  /** C1+C2 over the one-read scan ([[transactionRowsOf]]). */
  def transactionRows(read: Dataset[BlockWithReceipts]): DataFrame =
    transactionRowsOf(withReceipts(read))

  /** C1+C2 over separately read blocks and receipts: the join, then the
    * same flatten. */
  def transactionRows(blocks: Dataset[RpcBlock], receipts: Dataset[BlockReceipts]): DataFrame =
    transactionRowsOf(withReceipts(blocks, receipts))

  /** C1+C2 (fast path): flatten block->transactions with positional index,
    * zip-joined with receipts by array position — the exact semantics of
    * `receipts[transaction_index]` (main.rs:209-254). */
  private def transactionRowsOf(withReceipts: DataFrame): DataFrame =
    withReceipts.select(
      col("number"),
      col("hash").as("_blockHash"),
      col("timestamp").as("_blockTimestamp"),
      posexplode(arrays_zip(col("transactions"), col("receipts"))).as(Seq("_txIdx", "_z")))
      .select(txRow(col("_z.transactions"), col("_z.receipts")): _*)

  /** C2 (defensive path): explode txs and receipts separately, then
    * equi-join on (blockNumber, transactionIndex). Correct even if the
    * node returned receipts out of order — strictly stronger than the
    * reference's positional trust. Catalyst picks broadcast vs SMJ. */
  def transactionRowsJoined(blocks: Dataset[RpcBlock], receipts: Dataset[BlockReceipts]): DataFrame = {
    val txs = blocks.select(
      col("number"), col("hash").as("_blockHash"),
      col("timestamp").as("_blockTimestamp"),
      posexplode(col("transactions")).as(Seq("_txIdx", "_tx")))
    val rcs = receipts.select(
      col("blockNumber"), explode(col("receipts")).as("_rc"))
      .select(col("blockNumber"), col("_rc.transactionIndex").as("_rcIdx"), col("_rc"))
    txs.join(rcs,
        txs("number") === rcs("blockNumber") && txs("_txIdx").cast("long") === rcs("_rcIdx"))
      .select(txRow(col("_tx"), col("_rc")): _*)
  }

  /** The transactions row (C2, main.rs:209-254) of one transaction `tx`
    * and its receipt `rc`, beside the block's `number`, `_blockHash`,
    * `_blockTimestamp` and the transaction's `_txIdx`. */
  private def txRow(tx: Column, rc: Column): Seq[Column] = Seq(
    tx.getField("hash").as("hash"),
    col("_blockHash").as("blockHash"),
    col("number").as("blockNumber"),
    col("_blockTimestamp").cast(D).as("blockTimestamp"),
    col("_txIdx").cast("long").as("transactionIndex"),
    tx.getField("chainId").cast(D).as("chainId"),
    tx.getField("txType").as("type"),
    tx.getField("from").as("from"),
    tx.getField("to").as("to"),
    tx.getField("value").as("value"),
    tx.getField("nonce").cast(D).as("nonce"),
    tx.getField("input").as("input"),
    tx.getField("gas").cast(D).as("gas"),
    tx.getField("gasPrice").cast(D).as("gasPrice"),
    tx.getField("maxFeePerGas").cast(D).as("maxFeePerGas"),
    tx.getField("maxPriorityFeePerGas").cast(D).as("maxPriorityFeePerGas"),
    tx.getField("r").as("r"),
    tx.getField("s").as("s"),
    tx.getField("v").as("v"),
    tx.getField("accessList").as("accessList"),
    rc.getField("contractAddress").as("contractAddress"),
    rc.getField("cumulativeGasUsed").cast(D).as("cumulativeGasUsed"),
    rc.getField("effectiveGasPrice").cast(D).as("effectiveGasPrice"),
    rc.getField("gasUsed").cast(D).as("gasUsed"),
    rc.getField("logsBloom").as("logsBloom"),
    rc.getField("root").as("root"),
    rc.getField("status").as("status"))

  /** C3 over the one-read scan ([[eventRowsOf]]). */
  def eventRows(read: Dataset[BlockWithReceipts]): DataFrame =
    eventRowsOf(withReceipts(read))

  /** C3 over separately read blocks and receipts: the join, then the same
    * flatten. */
  def eventRows(blocks: Dataset[RpcBlock], receipts: Dataset[BlockReceipts]): DataFrame =
    eventRowsOf(withReceipts(blocks, receipts))

  /** C3: nested flatten receipt->logs (main.rs:256-274). Two-level explode:
    * receipts array, then each receipt's logs array. */
  private def eventRowsOf(withReceipts: DataFrame): DataFrame =
    withReceipts
      .select(
        col("number"), col("hash").as("_blockHash"),
        col("timestamp").as("_blockTimestamp"),
        explode(col("receipts")).as("_rc"))
      .select(
        col("number"), col("_blockHash"), col("_blockTimestamp"),
        col("_rc.transactionHash").as("transactionHash"),
        col("_rc.transactionIndex").as("transactionIndex"),
        explode(col("_rc.logs")).as("_log"))
      .select(
        col("_log.address").as("address"),
        col("_blockHash").as("blockHash"),
        col("number").as("blockNumber"),
        col("_blockTimestamp").cast(D).as("blockTimestamp"),
        col("transactionHash"),
        col("transactionIndex"),
        col("_log.logIndex").cast(D).as("logIndex"),
        col("_log.removed").as("removed"),
        col("_log.topics").as("topics"),
        col("_log.data").as("data"))

  /** C4: optional flatten block->withdrawals (main.rs:277-290). `explode`
    * of a NULL array emits zero rows — identical to the reference's
    * `if let Some(..)` skip of pre-Shanghai blocks. */
  def withdrawalRows(blocks: Dataset[RpcBlock]): DataFrame =
    blocks
      .select(
        col("hash").as("_blockHash"), col("number"),
        col("timestamp").as("_blockTimestamp"),
        explode(col("withdrawals")).as("_w"))
      .select(
        col("_blockHash").as("blockHash"),
        col("number").as("blockNumber"),
        col("_blockTimestamp").cast(D).as("blockTimestamp"),
        col("_w.index").as("index"),
        col("_w.validatorIndex").as("validatorIndex"),
        col("_w.address").as("address"),
        col("_w.amount").cast(D).as("amount"))
}
