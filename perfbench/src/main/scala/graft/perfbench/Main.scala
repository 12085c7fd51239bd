package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Stats.Metric

/** Runs one workload: set-up (inputs, stub node, untimed warm pass), then
  * whole passes of the workload's ops by one closed-loop client until
  * `--seconds` have passed, every op fully materialized and checked.
  * Prints a report, then the result line. With `--trace 1`, passes
  * alternate between untraced and traced; the traced ones record spans
  * and engine events and yield the per-layer metrics.
  *
  * {{{
  * Main --workload analytics --seed 1 --seconds 10 --trace 0 --root <checkout>
  * Main --capture --root <checkout>   # record the expected digests
  * Main --survey analytics --root <checkout>   # time the full mix
  * }}}
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, root: String = ".", capture: Boolean = false, survey: String = "")

  def parse(args: Seq[String]): Args = args match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--root" +: v +: rest => parse(rest).copy(root = v)
    case "--capture" +: rest => parse(rest).copy(capture = true)
    case "--survey" +: v +: rest => parse(rest).copy(survey = v)
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.excludedRules", graft.ops.Windows.KeepConstPartitionKeysRule)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"file:$work/spark-warehouse")
      .config("spark.graft.scratchDir", s"file:$work/scratch")
      // Scheme-less paths resolve through a view of the local file system
      // whose /tmp lies inside the run's work directory: the chain
      // queries keep their dumps under fixed /tmp paths.
      .config("spark.hadoop.fs.defaultFS", "viewfs://perfbench/")
      .config("spark.hadoop.fs.viewfs.mounttable.perfbench.link./tmp", s"file:$work/tmp")
      .config("spark.hadoop.fs.viewfs.mounttable.perfbench.linkFallback", "file:///")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readExpected(root: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(root, "perfbench", "expected", "digests.tsv")
    java.nio.file.Files.readAllLines(f).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartNs = Clock.msToNs(ManagementFactory.getRuntimeMXBean.getStartTime)
    val a = parse(argv.toSeq)
    val root = new java.io.File(a.root).getCanonicalPath
    val work = s"$root/.bench_build/run/${ProcessHandle.current.pid}"
    val spark = session(work)
    val sessionReadyNs = Clock.nowNs()
    val code =
      try {
        if (a.capture) Capture.run(spark, root)
        else if (a.survey.nonEmpty) Survey.run(spark, root, a.survey)
        else {
          val w = Workload(a.workload, spark, a.seed, root, work, readExpected(root))
          try new Harness(spark, w, a, jvmStartNs, sessionReadyNs, root).run() finally w.close()
        }
        0
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** Records the expected digest of every registered op, one per line. */
object Capture {
  def run(spark: SparkSession, root: String): Unit = {
    val dir = s"file:$root/perfbench/data/sf0.01"
    (Mix.Analytics ++ Mix.Stream).map(_._1).sorted.foreach { name =>
      val d = Digest.materialize(graft.SparkEntry.queries(name)(spark, dir))
      val again = Digest.materialize(graft.SparkEntry.queries(name)(spark, dir))
      require(d == again, s"$name is not deterministic: $d vs $again")
      println(s"$name\t$d")
      spark.catalog.clearCache()
    }
  }
}

final case class OpSample(pass: Int, traced: Boolean, op: Op, span: Span, phases: Seq[Span],
    ok: Boolean, counters: Map[String, Double])

final case class PassSample(pass: Int, traced: Boolean, span: Span, figures: Map[String, Double])

object Harness {
  /** Same between-op hygiene as graft.Bench: drop caches and the
    * lineage-truncation blocks of the finished op, keeping the
    * family-shared tables. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val keep = graft.ops.GraphOps.protectedRddIds(spark) ++ graft.ops.DedupOps.protectedRddIds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = false)
    }
  }
}

final class Harness(spark: SparkSession, w: Workload, a: Main.Args, jvmStartNs: Long,
    sessionReadyNs: Long, root: String) {
  private val sc = spark.sparkContext
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  private val runId = newId()
  private val batches = new BatchListener
  spark.streams.addListener(batches)
  private var warmFailures = 0


  private def runOp(op: Op, pass: Int, passId: Long, traced: Boolean): OpSample = {
    val id = newId()
    val phases = ArrayBuffer.empty[Span]
    val ph = new Phases {
      def apply[T](name: String)(body: => T): T = {
        val s = Clock.nowNs()
        try body finally phases += Span(newId(), id, id, "phase", name, s, Clock.nowNs())
      }
    }
    val s = Clock.nowNs()
    val (ok, counters) =
      try (true, op.run(ph, traced))
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: op ${op.name} failed: ${e.getMessage}")
          (false, Map.empty[String, Double])
      }
    val span = Span(id, passId, id, "op", op.name, s, Clock.nowNs())
    Harness.hygiene(spark)
    OpSample(pass, traced, op, span, phases.toList, ok, counters)
  }

  def run(): Unit = {
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // untimed warm pass: JIT, codegen and the family-shared builds
    val warmStart = Clock.nowNs()
    w.beforePass(-1)
    w.warmOps.foreach(op => if (!runOp(op, -1, runId, traced = false).ok) warmFailures += 1)
    val codegenMs = codegen.getCount * codegen.getSnapshot.getMean
    val sharedBuildS = (graft.ops.GraphOps.sharedBuildSeconds(spark).values ++
      graft.ops.DedupOps.sharedBuildSeconds(spark).values).sum
    val measureStart = Clock.nowNs()
    val setupS = (measureStart - jvmStartNs) / 1e9

    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
    val engine = new EngineListener
    val ops = ArrayBuffer.empty[OpSample]
    val passes = ArrayBuffer.empty[PassSample]
    var pass = 0
    def elapsedS = (Clock.nowNs() - measureStart) / 1e9
    // Whole passes, at least one, while the next is expected to end
    // within --seconds. Traced runs alternate untraced, traced, traced,
    // untraced, so that warm-up drift cancels in the overhead; the second
    // pair is dropped when the first already took --seconds.
    def lastPassS = passes.lastOption.map(p => p.span.durNs / 1e9).getOrElse(0.0)
    def enough =
      if (!a.trace) passes.nonEmpty && elapsedS + lastPassS > a.seconds
      else passes.size == 4 || passes.size == 2 && elapsedS > a.seconds
    while (!enough) {
      val traced = a.trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) { sc.addSparkListener(engine); spark.listenerManager.register(engine) }
      w.beforePass(pass)
      val passId = newId()
      val s = Clock.nowNs()
      ops ++= w.ops.map(op => runOp(op, pass, passId, traced))
      val e = Clock.nowNs()
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(engine); spark.listenerManager.unregister(engine)
      }
      val retainedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      passes += PassSample(pass, traced, Span(passId, runId, 0L, "pass", s"pass-$pass", s, e),
        w.afterPass() + ("retained_cache_mb" -> retainedMb))
      pass += 1
    }
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
    org.apache.spark.PerfbenchBus.drain(sc)

    val report = new Report(w, ops.toList, passes.toList, batches.snapshot(), engine.snapshot())
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val metrics =
      if (a.trace) report.perLayer(codegenMs, sharedBuildS, heapPeakMb)
      else report.endToEnd(setupS)
    val setupParts = Seq("session" -> (sessionReadyNs - jvmStartNs), "inputs" -> (warmStart - sessionReadyNs),
      "warm_pass" -> (measureStart - warmStart)).map { case (k, ns) => f"setup.$k%-18s ${ns / 1e9}%.4f s (n=1)" }
    (report.lines(setupS).take(1) ++ setupParts ++ report.lines(setupS).drop(1)).foreach(l => println(s"# $l"))
    if (a.trace) {
      val spanFile = java.nio.file.Paths.get(root, ".bench_build", "traces", s"${w.name}-seed${a.seed}.jsonl")
      java.nio.file.Files.createDirectories(spanFile.getParent)
      java.nio.file.Files.write(spanFile, report.allSpans(runId, jvmStartNs).map(Report.spanJson).asJava)
      println(s"# spans written to .bench_build/traces/${spanFile.getFileName}")
    }
    println(Stats.resultLine(failed == 0 && warmFailures == 0, attempted, failed, metrics))
  }
}
