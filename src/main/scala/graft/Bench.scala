package graft
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.ops.SharedTables
import graft.tools.Probe
object Bench {

  /** r16 (VERDICT r15 item 2): the one-line stdout JSON now carries the
    * FULL per-query map. The former 14-query `Headline` subset dated to a
    * rounds-1-2 ~4KB stdout-tail-buffer fear that r15 disproved in the
    * artifact itself: its line carried 90 confirmed_vs_baseline entries
    * well past 4KB and the driver parsed it fine — while the PERF diff,
    * which reads only this line's `queries` map, was blind to all 11
    * queries r15 optimized. Strictly additive: every former headline key
    * is still present under the same name; nothing is removed or
    * renamed, so the next round-over-round diff sees n_common ≈ the full
    * registry instead of 14. */

  /** One rep of one query, as the sweep runs it: from an empty cache,
    * `count()` timed, giving (rows, seconds). A rep that throws gives no
    * sample, since its short wall time would read as fast; NonFatal only,
    * so an OOM or a dead context aborts the caller as one failure instead
    * of bleeding through as one bogus failure per query.
    *
    * Afterwards every persisted RDD is released except the family-shared
    * tables (graph CoTables, dedup DupTables): a consumed result does not
    * need its lineage-truncation blocks, and without the release they
    * build up across reps. The shared tables are materialized once per
    * sweep, bounded (one per source dir) and reused by every family
    * member; releasing them made every later graph query throw
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (r14). */
  private[graft] def rep(spark: SparkSession, sfDir: String,
      fn: Probe.Query): Try[(Long, Double)] = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val r = Try { val n = fn(spark, sfDir).count(); (n, (System.nanoTime() - t0) / 1e9) }
    SharedTables.release(spark)
    r
  }

  /** Named build-seconds line items for every shared table this session
    * materialized during the (untimed) warmup — "family:source dir" →
    * seconds (spec-pinned in DupTablesCacheSpec). */
  private[graft] def sharedBuildEntries(s: SparkSession): Seq[(String, Double)] =
    (graft.ops.GraphOps.sharedBuildSeconds(s).toSeq.map {
      case (d, t) => s"graph_cotables:$d" -> t
    } ++ graft.ops.DedupOps.sharedBuildSeconds(s).toSeq.map {
      case (d, t) => s"dedup_minhash:$d" -> t
    }).sortBy(_._1)

  /** Raw in-sweep ratio above which a query earns an ISOLATED fresh-JVM
    * confirmation measure (VERDICT r14: the sweep's raw `vs_baseline` is
    * weather-dominated for sub-second queries — r14 read 9 queries >1.3×
    * that isolated runs read at ~1.0×; the artifact should carry the
    * decomposition, not prose). */
  private[graft] val ConfirmThreshold = 1.3

  /** Queries whose raw min-over-reps ratio exceeds [[ConfirmThreshold]]. */
  private[graft] def confirmCandidates(ratios: Seq[(String, Double)]): Seq[String] =
    ratios.filter(_._2 > ConfirmThreshold).map(_._1).sorted

  /** Parse the `[time-json]` lines a forked [[tools.Probe]] `time` prints —
    * name → best-of-reps seconds. Non-matching lines (Spark log noise on
    * the merged stream) are skipped; a malformed payload is dropped, not
    * fatal (a missing confirmation must not fail the bench). */
  private[graft] def parseTimeJson(lines: Seq[String]): Map[String, Double] =
    lines.flatMap { l =>
      val i = l.indexOf(Probe.JsonTag)
      if (i < 0) None
      else try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(l.substring(i + Probe.JsonTag.length))
        Some(node.get("name").asText() -> node.get("best").asDouble())
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap

  /** Isolated fresh-JVM best-of-3 for `names`: forks `java` with THIS
    * JVM's exact flags (add-opens, heap, code cache) and classpath
    * running `Probe time 3` — a genuinely separate process outside the
    * sweep's scheduler/GC context, the same regime baselines use, timed
    * with the sweep's own [[rep]]. Bounded: only outlier queries, one
    * fork total. Failure → empty map (the raw ratios stand,
    * conservatively). */
  private[graft] def freshJvmBest(names: Seq[String], sfDir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val probe = Probe.getClass.getName.stripSuffix("$")
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), probe, "time", "3") ++ names
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.redirectErrorStream(true)
    try {
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      parseTimeJson(out.linesIterator.toSeq)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] confirmation fork failed: ${e.getMessage}")
        Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The sweep deliberately unpersists consumed localCheckpoint blocks
    // after every query (see rep), and each unpersist logs a WARN
    // that the truncated lineage "cannot be recomputed" — true and
    // intended (the result was already counted). Silence the rdd
    // loggers so a REAL warning still stands out in the bench tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // warm the JVM/codegen once on the tiniest sf so per-query numbers
    // measure the query, not first-use classloading
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Full warmup sweep: EVERY query once, UNTIMED, on the target sf.
    // Round 11's in-sweep A/B (SCALE.md, "Round-11: the in-sweep JIT
    // penalty") showed why headline-only warmup is not enough: a query
    // whose first-ever execution lands mid-sweep queues its generated
    // classes behind a JIT backlog minutes deep, and ALL of its
    // interleaved timed reps then run semi-interpreted
    // (graph_triangles: 19-28 s across every rep when first executed
    // after 23 heavy queries, vs 8 s for the same in-sweep reps when
    // its code was compiled up front; fresh-JVM best 5.8 s). Baselines
    // are fresh-JVM minima, so timed reps must at least be JIT-warm or
    // the gate measures compilation order, not plans.
    // Local-iteration subset (comma-separated names). The driver never
    // sets this — it always sweeps the full surface; totals over a
    // subset are labeled by n_queries in the output line.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for ((_, fn) <- names) rep(spark, sfDir, fn)
    var failed = List.empty[String]
    // Cold best-of-N per query: the shared-VM host's CPU throughput swings
    // up to ~2.5x between single runs (SCALE.md), so one sample per query
    // mostly measures the host. Cache is cleared before EVERY rep — the
    // best is a cold-query time, never a warm-cache artifact.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Rep passes are INTERLEAVED across the whole query list (complete the
    // rep-1 sweep over every query, then rep-2, then rep-3) so one query's
    // reps never share a single host-contention window. Round 4's adjacent
    // reps=2 misreported five queries by 1.7-23x: a localized CPU swing or
    // first-use codegen hit both reps and min-of-2 could not escape it.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    // host-weather telemetry: /proc/loadavg at bench start and at each
    // rep-pass start, so a >2x reading is mechanically attributable to
    // a loaded host (r10's gate ambiguity) instead of needing a re-run
    def loadavg(): String =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case scala.util.control.NonFatal(_) => "" }
    val repLoads = scala.collection.mutable.ListBuffer.empty[String]
    // min over successful reps only: a failed rep is no sample
    def timeOne(name: String, fn: Probe.Query): Unit = rep(spark, sfDir, fn) match {
      case Success((_, t)) => samples(name) = t :: samples(name)
      case Failure(e) =>
        if (!failed.contains(name)) failed ::= name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
    }
    for (r <- 1 to reps) {
      repLoads += loadavg()
      for ((name, fn) <- names) timeOne(name, fn)
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    // Failed queries are reported ONLY in `failed` — no -1 sentinels in
    // the timing maps (a consumer summing the map would silently get
    // garbage), and totals over a partial query set are not comparable
    // round-over-round, so they are null whenever anything failed.
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // numeric sf parsed from the dir name (sf0.1 -> 0.1)
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    // Per-query ratio vs the frozen round-5 minima (BASELINE_BENCH.json) —
    // the 2x regression gate now has a number to gate against. Ratios are
    // only meaningful at the baseline's scale factor; queries added after
    // the freeze have no ratio. A >2x min-over-min on this shared host
    // still needs a confirming second sweep before it counts as a real
    // regression (BENCH methodology, SCALE.md).
    val baseline: Map[String, Double] = {
      val p = java.nio.file.Paths.get("BASELINE_BENCH.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        if (root.get("sf").asDouble() != sfNum.toDouble) Map.empty
        else {
          val qs = root.get("queries")
          import scala.jdk.CollectionConverters._
          qs.fieldNames().asScala.map(n => n -> qs.get(n).asDouble()).toMap
        }
      }
    }
    // Regression gate: RELATIVE (>2x the frozen minimum) AND ABSOLUTE
    // (>0.3 s over it). On sub-second queries the ratio alone measures
    // host-generation jitter, not the plan: r7/r8 sweeps show the whole
    // sub-second family drifting 1.7-2.2x together while multi-second
    // queries hold at/below baseline (SCALE.md round-8 note). A real
    // plan regression at these scales moves seconds, not 0.2 s.
    def gateTrips(): Seq[String] = names.flatMap { case (k, _) =>
      val xs = samples(k)
      baseline.get(k).filter(_ > 0).flatMap { b =>
        if (xs.nonEmpty && xs.min / b > 2.0 && (xs.min - b) > 0.3) Some(k) else None
      }
    }.sorted
    // Confirmation pass (the SCALE.md methodology, now mechanized): a
    // >2x min-over-min on this shared host is only a REGRESSION if it
    // survives extra reps taken in a separate contention window — so
    // gate-tripped queries get 2 more cold reps each before the flag is
    // final. A real plan regression reproduces; a host spike does not.
    val tripped0 = gateTrips()
    if (tripped0.nonEmpty) {
      repLoads += loadavg()
      for (_ <- 1 to 2; name <- tripped0; fn <- SparkEntry.queries.get(name))
        timeOne(name, fn)
    }
    val results = names.flatMap { case (name, _) =>
      val xs = samples(name)
      if (xs.nonEmpty) Some((name, xs.min, median(xs))) else None
    }
    val mins = results.map { case (k, mn, _) => (k, mn) }
    val medians = results.map { case (k, _, md) => (k, md) }
    val totalJson = if (failed.isEmpty) mins.map(_._2).sum.toString else "null"
    val totalMedianJson = if (failed.isEmpty) medians.map(_._2).sum.toString else "null"
    val ratios = mins.flatMap { case (k, v) =>
      baseline.get(k).filter(_ > 0).map(b => (k, v / b))
    }
    val ratioMax = if (ratios.nonEmpty) ratios.map(_._2).max else -1.0
    // Isolated confirmation pass: every raw ratio > ConfirmThreshold is
    // re-measured in ONE forked fresh JVM (reps=3 each) and the artifact
    // carries `confirmed_vs_baseline` alongside the raw ratio — the
    // baseline regime is fresh-JVM minima, so only a reading that
    // survives OUTSIDE the sweep's contention window is a plan signal.
    val confirmCands = confirmCandidates(ratios)
    val confirmedBest: Map[String, Double] =
      if (confirmCands.isEmpty) Map.empty else freshJvmBest(confirmCands, sfDir)
    val confirmedRatios = confirmCands.flatMap { k =>
      for (b <- baseline.get(k).filter(_ > 0); v <- confirmedBest.get(k))
        yield (k, v / b)
    }
    // The regression gate reads CONFIRMED ratios: a >2x in-sweep trip
    // with an isolated reading <=2x is weather, not a regression. A trip
    // whose confirmation is missing (fork failed) keeps its flag.
    val regressed = gateTrips().filter { k =>
      confirmedBest.get(k).forall(v =>
        baseline.get(k).filter(_ > 0).forall(b => v / b > 2.0))
    }
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val trippedJson = tripped0.map("\"" + _ + "\"").mkString("[", ",", "]")
    val allLoads = repLoads.toList :+ loadavg()
    val loadsJson = allLoads
      .map("\"" + _.replace("\"", "") + "\"").mkString("[", ",", "]")
    // compact 1-min loadavg trace for the size-limited stdout line
    val load1Json = allLoads.map(_.split(" ").headOption.getOrElse("-1"))
      .mkString("[", ",", "]")
    // Shared-table build seconds (warmup-built, untimed by design —
    // r14-adjudicated protocol): named line items so the sharing is
    // visible in the artifact instead of only in prose (r15 verdict
    // What's-wrong #3 / item 7). Keys are "<family>:<source dir>".
    val sharedBuild = sharedBuildEntries(spark)
    val sharedBuildJson = sharedBuild
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val shortJson =
      s"""{"metric":"total","value":$totalJson,"unit":"sec","queries":${qjson(mins)},"sf":$sfNum,"n_queries":${names.size},"reps":$reps,"total_median":$totalMedianJson,"failed":$failedJson,"vs_baseline_max":${f"$ratioMax%.3f"},"regressed_vs_baseline":$regressedJson,"gate_tripped_preconfirm":$trippedJson,"confirmed_vs_baseline":${qjson(confirmedRatios)},"shared_build_sec":$sharedBuildJson,"loadavg1":$load1Json,"detail":"BENCH.out.json"}"""
    // per-query successful-sample count: `reps` is the attempt count;
    // a rep that failed contributes no sample, so a min over fewer
    // samples is visibly weaker evidence
    val nSamples = names.flatMap { case (name, _) =>
      val n = samples(name).size
      if (n > 0) Some((name, "\"" + name + "\":" + n)) else None
    }.map(_._2).mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$totalJson,"unit":"sec","queries":${qjson(mins)},"queries_median":${qjson(medians)},"vs_baseline":${qjson(ratios)},"sf":$sfNum,"sf_dir":"$sfDir","reps":$reps,"n_samples":$nSamples,"total_median":$totalMedianJson,"failed":$failedJson,"regressed_vs_baseline":$regressedJson,"gate_tripped_preconfirm":$trippedJson,"confirm_threshold":$ConfirmThreshold,"confirmed_best":${qjson(confirmCands.flatMap(k => confirmedBest.get(k).map(k -> _)))},"confirmed_vs_baseline":${qjson(confirmedRatios)},"shared_build_sec":$sharedBuildJson,"host_loadavg":$loadsJson}"""
    println(shortJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.out.json"), fullJson + "\n")
    // every timed rep has consumed its result — drop the bounded scratch
    // artifacts (they are overwrite-reused across reps, not leaked)
    graft.etl.Scratch.cleanAll(spark)
    spark.stop()
  }
}
