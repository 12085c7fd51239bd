package graft.perfbench

import java.util.concurrent.atomic.LongAdder

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Times every op of a workload's full mix ([[Mix.FullAnalytics]] or
  * [[Mix.FullStream]]) on the benchmark's input the way the workload
  * times its ops (build, then the digesting noop write), so that the
  * benchmarked subset can be compared with the mix it stands for. One
  * untimed warm pass, then [[Survey.Passes]] timed passes in
  * seed-shuffled order; per op it prints the medians, then a summary of
  * the full mix and of the subset.
  *
  * {{{
  * Main --survey analytics|stream_replay --root <checkout>
  * }}}
  */
object Survey {
  val Passes = 3

  /** Jobs, tasks and task CPU, summed over the whole session. */
  private final class Counters extends SparkListener {
    val jobs, tasks, cpuNs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      if (e.taskMetrics != null) cpuNs.add(e.taskMetrics.executorCpuTime)
    }
  }

  /** Median figures of one op. */
  final case class OpTimes(name: String, module: String, buildS: Double, actionS: Double,
      jobs: Double, cpuS: Double) {
    def totalS: Double = buildS + actionS
  }

  /** Summary of a mix: op count, pass time, share of the pass per module
    * and in `fn(spark, dir)`, op-time p50/p90 (nearest rank), the share of
    * the pass in its slowest tenth of ops, and task CPU per core-second of
    * op time per module (near 1: bound by per-row kernels; near 0: by
    * planning and scheduling). */
  def summary(label: String, ops: Seq[OpTimes], cores: Int): Seq[String] = {
    val pass = ops.map(_.totalS).sum
    val sorted = ops.map(_.totalS).sorted
    def rank(p: Double) = sorted(math.max(1, math.ceil(p * sorted.size - 1e-9).toInt) - 1)
    val tail = sorted.takeRight(math.max(1, sorted.size / 10)).sum
    val modules = ops.groupBy(_.module).toSeq.sortBy(_._1).map { case (m, os) =>
      val t = os.map(_.totalS).sum
      f"$m=${os.size}%d ops ${100 * t / pass}%.1f%% cpu/core-s ${os.map(_.cpuS).sum / (t * cores)}%.2f"
    }
    Seq(f"$label%-7s ops=${ops.size}%d pass_s=$pass%.3f build=${100 * ops.map(_.buildS).sum / pass}%.1f%% " +
      f"p50_ms=${rank(0.5) * 1000}%.1f p90_ms=${rank(0.9) * 1000}%.1f slowest_tenth=${100 * tail / pass}%.1f%% " +
      f"jobs/op=${ops.map(_.jobs).sum / ops.size}%.1f") ++ modules.map(m => s"$label  $m")
  }

  def run(spark: SparkSession, root: String, workload: String): Unit = {
    val (mix, subsetMix) = workload match {
      case "analytics" => (Mix.FullAnalytics, Mix.Analytics)
      case "stream_replay" => (Mix.FullStream, Mix.Stream)
      case other => throw new IllegalArgumentException(s"no survey for workload $other")
    }
    val dir = s"file:$root/perfbench/data/sf0.01"
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    val samples = scala.collection.mutable.Map.empty[String, Seq[(Double, Double, Double, Double)]]
      .withDefaultValue(Nil)
    val failed = scala.collection.mutable.Set.empty[String]
    for (pass <- -1 until Passes; (name, _) <- new scala.util.Random(pass).shuffle(mix)) {
      org.apache.spark.PerfbenchBus.drain(sc)
      val (j0, c0) = (counters.jobs.sum, counters.cpuNs.sum)
      val s = Clock.nowNs()
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val b = Clock.nowNs()
        Digest.materialize(df)
        val e = Clock.nowNs()
        org.apache.spark.PerfbenchBus.drain(sc)
        if (pass >= 0) samples(name) :+= (((b - s) / 1e9, (e - b) / 1e9,
          (counters.jobs.sum - j0).toDouble, (counters.cpuNs.sum - c0) / 1e9))
      } catch {
        case NonFatal(e) =>
          failed += name
          System.err.println(s"perfbench: survey op $name failed: ${e.getMessage}")
      }
      Harness.hygiene(spark)
    }
    val times = mix.filterNot(m => failed(m._1)).map { case (name, module) =>
      val xs = samples(name)
      OpTimes(name, module, Stats.median(xs.map(_._1)), Stats.median(xs.map(_._2)),
        Stats.median(xs.map(_._3)), Stats.median(xs.map(_._4)))
    }
    times.sortBy(t => (t.module, t.totalS)).foreach { t =>
      println(f"op ${t.name}%-30s ${t.module}%-20s build_ms=${t.buildS * 1000}%8.1f " +
        f"action_ms=${t.actionS * 1000}%8.1f total_ms=${t.totalS * 1000}%8.1f jobs=${t.jobs}%5.1f " +
        f"cpu_ms=${t.cpuS * 1000}%8.1f")
    }
    failed.toSeq.sorted.foreach(n => println(s"op $n FAILED"))
    val cores = Runtime.getRuntime.availableProcessors()
    val subset = subsetMix.map(_._1).toSet
    (summary("full", times, cores) ++ summary("subset", times.filter(t => subset(t.name)), cores))
      .foreach(println)
  }
}
