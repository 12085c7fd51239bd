package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{Bench, GraftSession, SparkEntry}

/** The per-query probe: times, A/Bs, profiles, counts or prints the plans
  * of registered queries on the fixture at `SPARK_GRAFT_SF_DIR` (default
  * sf0.1), in one [[graft.GraftSession]] of `SPARK_GRAFT_CPUS` cores.
  *
  * {{{
  * runMain graft.tools.Probe time <reps> <name...>
  * runMain graft.tools.Probe ab <reps> <key> <value> <name...>
  * runMain graft.tools.Probe jobs <name...>
  * runMain graft.tools.Probe plan [name...]
  * runMain graft.tools.Probe explain [name...]
  * }}}
  *
  * `plan` and `explain` cover every registered query when no name is
  * given. Every timed rep is [[graft.Bench.rep]], the sweep's own: one
  * untimed warm rep per name, then `reps` passes interleaved across the
  * names (and, in `ab`, across the default session and a `newSession()`
  * with `key=value` set), so one name's reps never share a contention
  * window. A rep that throws is reported and gives no sample; `time`
  * prints a total only when no rep failed, and its summary line counts
  * the whole-stage-codegen compiles of the timed passes.
  *
  * It replaces seven mains:
  * {{{
  * TimeQuery <reps> <names>           Probe time <reps> <names>
  * TailProbe <maxEntries> <reps> <names>
  *   sbt 'set run / javaOptions += "-Dspark.sql.codegen.cache.maxEntries=N"' "runMain graft.tools.Probe time <reps> <names>"
  * ConfProbe <key> <value> <names>    Probe ab 3 <key> <value> <names>
  * JobProfile <names>                 Probe jobs <names>
  * PlanStats [sfDir] [names]          SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<sfDir> Probe plan [names]
  * Explain [sfDir] [names]            SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<sfDir> Probe explain [names]
  * ExplainDump <outDir> <tag> <name>  Probe explain <name> > <outDir>/<name>_<tag>.txt
  * }}}
  */
object Probe {

  type Query = (SparkSession, String) => DataFrame

  /** Machine-readable line prefix: graft.Bench's confirmation fork greps
    * for it and parses the JSON payload. */
  val JsonTag = "[time-json] "

  /** One parseable result line per query: `[time-json] {"name":…,"best":…}`. */
  def jsonLine(name: String, best: Double): String =
    JsonTag + s"""{"name":"$name","best":${f"$best%.3f"}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def named(ns: Seq[String]): Seq[(String, Query)] =
      ns.map(n => n -> SparkEntry.queries.getOrElse(n, usage(s"unknown query: $n")))
    def namedOrAll(ns: Seq[String]): Seq[(String, Query)] =
      if (ns.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1) else named(ns)
    val run: SparkSession => Unit = args.toList match {
      case "time" :: reps :: ns if ns.nonEmpty =>
        val qs = named(ns); s => time(s, sfDir, reps.toInt, qs)
      case "ab" :: reps :: key :: value :: ns if ns.nonEmpty =>
        val qs = named(ns)
        s => {
          val alt = s.newSession()
          alt.conf.set(key, value)
          ab(Seq("default" -> s, "set" -> alt), sfDir, reps.toInt, qs)
        }
      case "jobs" :: ns if ns.nonEmpty =>
        val qs = named(ns); s => jobs(s, sfDir, qs)
      case "plan" :: ns =>
        val qs = namedOrAll(ns); s => plan(s, sfDir, qs)
      case "explain" :: ns =>
        val qs = namedOrAll(ns); s => explain(s, sfDir, qs)
      case _ => usage("")
    }
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark) finally spark.stop()
  }

  private def usage(problem: String): Nothing = {
    if (problem.nonEmpty) System.err.println(problem)
    System.err.println("Usage: Probe time <reps> <name...> | ab <reps> <key> <value> <name...>" +
      " | jobs <name...> | plan [name...] | explain [name...]")
    sys.exit(2)
  }

  /** Best-of-`reps` per name; returns each name's (rows, seconds) samples.
    * A name whose every rep threw has no entry. */
  def time(spark: SparkSession, sfDir: String, reps: Int,
      queries: Seq[(String, Query)]): Map[String, Seq[(Long, Double)]] = {
    queries.foreach { case (_, fn) => Bench.rep(spark, sfDir, fn) }
    val c0 = compiles()
    val samples = passes(Seq("" -> spark), sfDir, reps, queries).groupMap(_._1)(_._3)
    val compiled = compiles() - c0
    val bests = queries.map(_._1).distinct.flatMap(n => samples.get(n).map { xs =>
      val best = xs.map(_._2).min
      val all = xs.map(x => f"${x._2}%.2f").mkString(", ")
      println(f"[time] $n%-28s best=$best%6.2fs rows=${xs.head._1} all=[$all]")
      println(jsonLine(n, best))
      best
    })
    val failures = reps * queries.size - samples.values.map(_.size).sum
    // a partial pass has no total: it would read fewer queries as faster
    val total = if (failures == 0) f" total_best=${bests.sum}%.3f" else ""
    println(s"[time] reps=$reps failures=$failures codegen_compiles=$compiled$total")
    samples
  }

  /** Best-of-`reps` per name under each arm's session. */
  def ab(arms: Seq[(String, SparkSession)], sfDir: String, reps: Int,
      queries: Seq[(String, Query)]): Unit = {
    for ((_, fn) <- queries; (_, s) <- arms) Bench.rep(s, sfDir, fn)
    val samples = passes(arms, sfDir, reps, queries).groupMap(r => (r._1, r._2))(_._3._2)
    for ((n, _) <- queries; (tag, _) <- arms; ts <- samples.get((n, tag)))
      println(f"[ab] $n%-28s $tag%-7s best=${ts.min}%6.2f all=${ts.map(t => f"$t%.2f").mkString(",")}")
  }

  /** `reps` passes over every name and, per name, every arm, so load
    * drift hits each alike: (name, arm, (rows, seconds)) per rep that
    * succeeded. */
  private def passes(arms: Seq[(String, SparkSession)], sfDir: String, reps: Int,
      queries: Seq[(String, Query)]): Seq[(String, String, (Long, Double))] =
    for {
      _ <- 1 to reps
      (n, fn) <- queries
      (tag, s) <- arms
      sample <- Bench.rep(s, sfDir, fn) match {
        case Success(x) => Some(x)
        case Failure(e) => println(s"[probe] $n $tag FAILED: ${e.getMessage}"); None
      }
    } yield (n, tag, sample)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Per-job wall-clock breakdown of one warm rep per name: a multi-second
    * query here is usually many small Spark jobs (scratch writes,
    * streaming micro-batches, iterative kernels), and a total cannot say
    * which job is the money. Prints every job's duration, description,
    * stage and task count, input and shuffle bytes, and the gaps between
    * jobs (driver work: planning, file listing, commit). */
  def jobs(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    val sc = spark.sparkContext
    queries.foreach { case (n, fn) =>
      Bench.rep(spark, sfDir, fn) // JIT and codegen stay out of the profile
      val jl = new JobListener
      ListenerDrain.drain(sc)
      sc.addSparkListener(jl)
      // listener events are async: deliver every one posted so far
      val r = try Bench.rep(spark, sfDir, fn)
        finally { ListenerDrain.drain(sc); sc.removeSparkListener(jl) }
      r match {
        case Failure(e) => println(s"[profile] $n FAILED: ${e.getMessage}")
        case Success((rows, total)) =>
          val js = jl.jobs.values.asScala.toSeq.sortBy(_.t0)
          println(f"%n[profile] ===== $n total=$total%.2fs rows=$rows jobs=${js.size} =====")
          var prevEnd = 0L
          js.foreach { j =>
            val gap = if (prevEnd == 0L) 0.0 else (j.t0 - prevEnd) / 1e3
            prevEnd = j.t1
            val dur = (j.t1 - j.t0) / 1e3
            println(f"[profile]  job ${j.id}%3d dur=$dur%6.2fs gap=$gap%5.2fs " +
              f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
              f"in=${j.input / 1e6}%8.1fMB sr=${j.shufR / 1e6}%7.1fMB sw=${j.shufW / 1e6}%7.1fMB  ${j.desc.take(60)}")
          }
          val jobSum = js.map(j => (j.t1 - j.t0) / 1e3).sum
          println(f"[profile]  sum(jobs)=$jobSum%.2fs driver/gaps=${total - jobSum}%.2fs")
      }
    }
  }

  private final class JobListener extends SparkListener {
    case class Job(id: Int, desc: String, t0: Long, var t1: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0,
        var shufR: Long = 0L, var shufW: Long = 0L, var input: Long = 0L)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, desc, e.time))
      // a shared or skipped stage can be listed by several jobs: it
      // belongs to the job that listed it first, not to a later job that
      // never ran it
      e.stageIds.foreach(sid => stageToJob.putIfAbsent(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1))
      if (j != null) {
        val m = e.stageInfo.taskMetrics
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        j.shufR += m.shuffleReadMetrics.totalBytesRead
        j.shufW += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Every node of a physical plan, descending into an adaptive plan's
    * initial (pre-AQE) plan: the plan the shuffle pins count. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.initialPlan)
      case _ => Seq.empty
    }
    (p +: p.children.flatMap(planNodes)) ++ inner
  }

  /** Per name, the shuffle exchanges and the join execs of the pre-AQE
    * plan: the numbers PlanQualitySpec pins. */
  def plan(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (n, fn) =>
      val all = planNodes(fn(spark, sfDir).queryExecution.executedPlan)
      val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
      val joins = all.map(_.getClass.getSimpleName).filter(_.contains("Join")).sorted
      println(f"$n%-28s shuffles=$shuffles%2d joins=${joins.mkString(",")}")
    }

  /** Per name, `explain("formatted")`: pushdown, join strategy and codegen spans. */
  def explain(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
}
