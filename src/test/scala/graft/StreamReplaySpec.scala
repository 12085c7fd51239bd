package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, StreamingQueryListener}

import graft.streaming.StreamParity

/** The replay harness every StreamParity query runs through: each of the
  * registered replays genuinely micro-batches, leaves no query running
  * and restores the session's shuffle width — and a failing batch or an
  * interrupted caller gets the same cleanup. */
class StreamReplaySpec extends SparkSuite {

  private val ShuffleKey = "spark.sql.shuffle.partitions"

  /** Counts the micro-batches that read input rows. */
  private final class DataBatches extends StreamingQueryListener {
    val n = new AtomicInteger
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) n.incrementAndGet()
  }

  for ((name, run) <- StreamParity.queries.toSeq.sortBy(_._1)) {
    test(s"$name replays >= 2 data micro-batches, stops its query, restores the shuffle width") {
      val before = spark.conf.get(ShuffleKey)
      val listener = new DataBatches
      spark.streams.addListener(listener)
      try {
        run(spark, sf)
        ListenerDrain.drain(spark.sparkContext)
      } finally spark.streams.removeListener(listener)
      assert(listener.n.get >= 2,
        s"$name ran ${listener.n.get} micro-batches with input rows")
      assert(spark.streams.active.isEmpty, s"$name left a query active")
      assert(spark.conf.get(ShuffleKey) == before)
    }
  }

  test("a sink failure in batch 1 reaches the caller, leaves no query active, restores the shuffle width") {
    val before = spark.conf.get(ShuffleKey)
    var seen = Vector.empty[Long]
    val failing: StreamParity.Sink = (out, batch, batchId) => {
      seen :+= batchId
      if (batchId == 1L) throw new IllegalStateException("sink failed in batch 1")
      batch.write.mode("append").parquet(out)
    }
    var readBack = false
    val e = intercept[StreamingQueryException] {
      StreamParity.replay(spark, "stream_replay_fail", OutputMode.Append, failing) {
        case Seq(in) =>
          val ids = spark.range(0L, 40L).toDF("id")
          ids.repartition(4, col("id")).write.parquet(in)
          ids.schema
      } { case Seq(ids) => ids } { out =>
        readBack = true
        spark.read.parquet(out)
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.getMessage == "sink failed in batch 1"), causes.mkString("\n"))
    assert(seen == Vector(0L, 1L))
    assert(!readBack)
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get(ShuffleKey) == before)
  }

  test("an interrupted caller stops the still-running query and restores the shuffle width") {
    val before = spark.conf.get(ShuffleKey)
    val inBatch1 = new CountDownLatch(1)
    // batch 1 blocks until the query is stopped (stop interrupts it)
    val blocking: StreamParity.Sink = (out, batch, batchId) => {
      if (batchId == 1L) { inBatch1.countDown(); Thread.sleep(120000L) }
      batch.write.mode("append").parquet(out)
    }
    var thrown: Throwable = null
    val caller = new Thread(() =>
      try {
        StreamParity.replay(spark, "stream_replay_interrupt", OutputMode.Append, blocking) {
          case Seq(in) =>
            val ids = spark.range(0L, 40L).toDF("id")
            ids.repartition(4, col("id")).write.parquet(in)
            ids.schema
        } { case Seq(ids) => ids } { out => spark.read.parquet(out) }
      } catch { case t: Throwable => thrown = t })
    caller.start()
    assert(inBatch1.await(120L, TimeUnit.SECONDS), "batch 1 never started")
    caller.interrupt()
    caller.join(120000L)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], String.valueOf(thrown))
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get(ShuffleKey) == before)
  }
}
