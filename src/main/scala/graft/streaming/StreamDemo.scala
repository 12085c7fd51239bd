package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GraftSession
import graft.streaming.StreamOps.Event

/** Runnable demo of the streaming surface: feeds a MemoryStream through
  * windowedCounts / sessionCounts and prints the sinks — the smallest
  * end-to-end drive of the streaming operators outside tests. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val in = MemoryStream[Event]
    val q = StreamOps.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("demo_wc").outputMode("complete").start()
    in.addData(
      Event(1, Timestamp.valueOf("2024-01-01 10:00:30"), 1, "click", 1.5),
      Event(2, Timestamp.valueOf("2024-01-01 10:02:00"), 2, "click", 2.5),
      Event(3, Timestamp.valueOf("2024-01-01 10:07:00"), 1, "view", 4.0))
    q.processAllAvailable()
    println("=== windowed counts ===")
    spark.sql("SELECT * FROM demo_wc ORDER BY w_start, event_type").show(false)
    q.stop()

    val in2 = MemoryStream[Event]
    val q2 = StreamOps.sessionCounts(in2.toDF())
      .writeStream.format("memory").queryName("demo_sess").outputMode("complete").start()
    in2.addData(
      Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 0),
      Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 7, "click", 0),
      Event(3, Timestamp.valueOf("2024-01-01 10:55:00"), 7, "click", 0))
    q2.processAllAvailable()
    println("=== session windows ===")
    spark.sql("SELECT * FROM demo_sess ORDER BY s_start").show(false)
    q2.stop()
    spark.stop()
  }
}
