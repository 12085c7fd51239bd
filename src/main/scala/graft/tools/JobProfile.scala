package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._

import graft.{GraftSession, SparkEntry}

/** Per-JOB wall-clock breakdown of a registered query — the measure-first
  * tool the optimization guide (§1) asks for: a multi-second query here is
  * usually many small Spark jobs (scratch writes, streaming micro-batches,
  * iterative kernels), and per-query totals can't say WHICH job is the
  * money. Attaches a listener, runs the query once warm (after one untimed
  * rep), and prints every job's duration, description, stage count, task
  * count, and shuffle read/write bytes, plus the gaps BETWEEN jobs (driver
  * work: planning, file listing, commit).
  *
  * Usage: runMain graft.tools.JobProfile <name> [<name> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object JobProfile {
  private final class Probe extends SparkListener {
    case class Job(id: Int, desc: String, t0: Long, var t1: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0,
        var shufR: Long = 0L, var shufW: Long = 0L, var input: Long = 0L)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, desc, e.time))
      // a shared/skipped stage can be listed by several jobs: attribute
      // it to the job that listed it FIRST (ADVICE r15 — put() would
      // let the last job steal metrics of stages it never ran)
      e.stageIds.foreach(sid => stageToJob.putIfAbsent(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1))
      if (j != null) {
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        j.shufR += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        j.shufW += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        j.input += e.stageInfo.taskMetrics.inputMetrics.bytesRead
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one untimed warm rep so JIT/codegen don't pollute the profile
      spark.catalog.clearCache()
      try { fn(spark, sfDir).count(); () } catch { case t: Throwable =>
        println(s"[profile] $name warmup FAILED: ${t.getMessage}") }
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // listener events are async: deliver every one posted so far
      ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      import scala.jdk.CollectionConverters._
      val js = probe.jobs.values.asScala.toSeq.sortBy(_.t0)
      println(f"%n[profile] ===== $name total=$total%.2fs rows=$n jobs=${js.size} =====")
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = j.t1
        val dur = (j.t1 - j.t0) / 1e3
        val desc = if (j.desc.length > 60) j.desc.take(60) else j.desc
        println(f"[profile]  job ${j.id}%3d dur=$dur%6.2fs gap=$gap%5.2fs " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"in=${j.input / 1e6}%8.1fMB sr=${j.shufR / 1e6}%7.1fMB sw=${j.shufW / 1e6}%7.1fMB  $desc")
      }
      val jobSum = js.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"[profile]  sum(jobs)=$jobSum%.2fs driver/gaps=${total - jobSum}%.2fs")
    }
    spark.stop()
  }
}
