package graft.perfbench

import Stats.Metric

/** Turns a run's samples and engine events into metrics. End-to-end
  * metrics come from untraced passes only; per-layer metrics from
  * traced passes only. */
final class Report(w: Workload, ops: Seq[OpSample], passes: Seq[PassSample],
    batches: Seq[BatchEvent],
    engine: (Seq[JobEvent], Seq[StageEvent], Seq[TaskEvent], Seq[PlanEvent])) {

  private val (jobs, stages, tasks, plans) = engine
  private val untraced = ops.filter(o => !o.traced && o.ok)
  private val traced = ops.filter(o => o.traced && o.ok)
  private val tracedPasses = passes.count(_.traced).max(1)

  private def secs(ns: Long): Double = ns / 1e9
  private def phaseS(o: OpSample, names: String*): Double =
    o.phases.filter(p => names.contains(p.name)).map(p => secs(p.durNs)).sum
  private def within(o: OpSample, ms: Long): Boolean = {
    val t = Clock.msToNs(ms)
    t >= o.span.startNs - 1000000L && t <= o.span.endNs + 1000000L
  }
  private def batchesOf(o: OpSample): Seq[BatchEvent] = batches.filter(b => within(o, b.startMs))

  /** Phases that only traced passes run; they are not part of the op. */
  private val ExtraPhases = Seq("fetch", "tables", "write_all")
  private def comparableS(o: OpSample): Double = secs(o.span.durNs) - phaseS(o, ExtraPhases: _*)

  // -- attribution of engine events to the op in flight ----------------
  private lazy val jobsOf: Map[Long, Seq[JobEvent]] =
    traced.map(o => o.span.id -> jobs.filter(j => within(o, j.startMs))).toMap
  private lazy val stagesOf: Map[Long, Seq[StageEvent]] = traced.map { o =>
    val ids = jobsOf(o.span.id).map(_.jobId).toSet
    o.span.id -> stages.filter(s => ids(s.jobId))
  }.toMap
  private lazy val tasksOf: Map[Long, Seq[TaskEvent]] = traced.map { o =>
    val ids = stagesOf(o.span.id).map(_.stageId).toSet
    o.span.id -> tasks.filter(t => ids(t.stageId))
  }.toMap

  private def jobSpans(o: OpSample): Seq[Span] = jobsOf(o.span.id).map { j =>
    val end = if (j.endMs >= j.startMs) j.endMs else j.startMs
    Span(-1, o.span.id, o.span.id, "job", s"job-${j.jobId}", Clock.msToNs(j.startMs), Clock.msToNs(end))
  }
  private def stageSpans(o: OpSample): Seq[Span] = stagesOf(o.span.id).map { s =>
    Span(-1, o.span.id, o.span.id, "stage", s"stage-${s.stageId}", Clock.msToNs(s.submitMs), Clock.msToNs(s.doneMs))
  }

  /** Per-op self times: unattributed (op), phase, job, stage. */
  private def selfTimes(o: OpSample): Seq[Long] =
    Intervals.selfTimes((o.span.startNs, o.span.endNs),
      Seq(o.phases, jobSpans(o), stageSpans(o)).map(_.map(s => (s.startNs, s.endNs))))

  // -- end-to-end -------------------------------------------------------
  private def passS(p: PassSample): Double = secs(p.span.durNs)
  private def untracedPassS: Seq[Double] = passes.filterNot(_.traced).map(passS)
  private def batchMs(os: Seq[OpSample]): Seq[Double] =
    os.flatMap(batchesOf).map(_.durations.getOrElse("triggerExecution", 0L).toDouble)


  /** The result line's metrics: the two every workload has. */
  def endToEnd(setupS: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("pass_s", Stats.median(untracedPassS), "s"))

  /** Human-readable report: every metric the workload defines, with its
    * unit and sample count, including the workload-specific ones that
    * the result line does not carry. */
  def lines(setupS: Double): Seq[String] = {
    def pct(name: String, xs: Seq[Double], p: Double, unit: String) = Stats.describe(name, xs, p, unit)
    def one(name: String, v: Double, unit: String, n: Int): String = f"$name%-24s $v%.4f $unit%s (n=$n)"
    val all = ops.filterNot(_.traced)
    val common = Seq(
      one("setup_s", setupS, "s", 1),
      one("ops_failed_ratio", all.count(!_.ok).toDouble / all.size.max(1), "ratio", all.size),
      one("pass_s", Stats.median(untracedPassS), "s", untracedPassS.size))
    val specific = w.name match {
      case "chain_ingest" =>
        val blocks = untraced.map(_.counters.getOrElse("blocks", 0.0)).sum
        val ingestS = untraced.map(phaseS(_, "ingest")).sum
        val perPass = passes.filterNot(_.traced)
        Seq(one("ingest_blocks_per_s", blocks / ingestS, "blocks/s", untraced.size),
          one("stored_bytes_per_block",
            Stats.median(perPass.map(p => p.figures("stored_bytes") / p.figures("blocks"))),
            "B/block", perPass.size),
          one("rpc_calls_per_block", untraced.map(_.counters.getOrElse("rpc_calls", 0.0)).sum / blocks,
            "calls/block", untraced.size),
          "note: the stub node closes the connection after every call, so sources and etl " +
            "timings include one TCP connect per RPC call")
      case "analytics" =>
        val qs = untraced.map(o => secs(o.span.durNs))
        Seq(pct("query_p50_s", qs, 0.5, "s"), pct("query_p90_s", qs, 0.9, "s"),
          one("analytics_pass_s", Stats.median(untracedPassS), "s", untracedPassS.size),
          one("retained_cache_mb", Stats.median(passes.filterNot(_.traced)
            .map(_.figures("retained_cache_mb"))), "MB", untracedPassS.size))
      case "stream_replay" =>
        val bs = batchMs(untraced)
        Seq(one("replay_pass_s", Stats.median(untracedPassS), "s", untracedPassS.size),
          pct("batch_p50_ms", bs, 0.5, "ms"), pct("batch_p90_ms", bs, 0.9, "ms"),
          one("batches_per_pass", bs.size.toDouble / untracedPassS.size, "count", untracedPassS.size))
      case _ => Nil
    }
    val perOp = all.map { o =>
      f"op ${o.op.name}%-28s ${secs(o.span.durNs) * 1000}%9.1f ms  ${if (o.ok) "ok" else "FAILED"}  " +
        o.phases.map(p => f"${p.name}=${p.durNs / 1e6}%.1f").mkString(" ")
    }
    common ++ specific ++ perOp
  }

  // -- per-layer --------------------------------------------------------
  def perLayer(codegenMs: Double, sharedBuildS: Double, heapPeakMb: Double): Seq[Metric] = {
    val nOps = traced.size.max(1).toDouble
    def perPass(v: Double): Double = v / tracedPasses
    def counter(k: String): Double = traced.map(_.counters.getOrElse(k, 0.0)).sum
    def module(m: String): Double = perPass(traced.filter(_.op.module == m).map(o => secs(o.span.durNs)).sum)
    def phase(names: String*): Double = perPass(traced.map(phaseS(_, names: _*)).sum)
    def figure(k: String): Double =
      Stats.median(passes.filter(_.traced).map(_.figures.getOrElse(k, 0.0)))
    val allTasks = traced.flatMap(o => tasksOf(o.span.id))
    val wallNs = traced.map(_.span.durNs).sum.max(1L).toDouble
    val outsideJobsNs = traced.map { o =>
      o.span.durNs - Intervals.unionLength(jobSpans(o).map(j =>
        (math.max(j.startNs, o.span.startNs), math.min(j.endNs, o.span.endNs))))
    }.sum
    val opBatches = traced.map(o => o -> batchesOf(o))
    val allBatches = opBatches.flatMap(_._2)
    def dur(k: String): Double = Stats.median(allBatches.map(_.durations.getOrElse(k, 0L).toDouble)) match {
      case v if v.isNaN => 0.0
      case v => v
    }
    val streamOps = opBatches.filter(_._2.nonEmpty)
    val lastState = streamOps.flatMap(_._2.groupBy(_.queryId).values.map(_.maxBy(_.startMs)))
    val selfs = traced.map(selfTimes)
    def comparable(tracedPass: Boolean): Double = Stats.median(passes.filter(_.traced == tracedPass).map { p =>
      ops.filter(o => o.pass == p.pass && o.ok).map(comparableS).sum
    })
    val overhead = comparable(true) / comparable(false) - 1
    Seq(
      Metric("sources.rpc_calls_per_block",
        if (counter("blocks") > 0) counter("rpc_calls") / counter("blocks") else 0.0, "calls/block"),
      Metric("sources.rpc_response_mb", perPass(counter("rpc_bytes")) / 1e6, "MB"),
      Metric("sources.fetch_s", phase("fetch"), "s"),
      Metric("etl.tables_s", phase("tables"), "s"),
      Metric("etl.write_all_s", phase("write_all"), "s"),
      Metric("etl.ingest_s", phase("ingest"), "s"),
      Metric("etl.files_written", figure("files"), "count"),
      Metric("etl.partitions_written", figure("partitions"), "count"),
      Metric("queries.relational_s", module("queries.relational"), "s"),
      Metric("queries.chain_s", module("queries.chain"), "s"),
      Metric("ops.text_s", module("ops.text"), "s"),
      Metric("ops.dedup_s", module("ops.dedup"), "s"),
      Metric("queries.build_s", phase("build"), "s"),
      Metric("queries.action_s", phase("action"), "s"),
      Metric("ops.shared_build_s", sharedBuildS, "s"),
      Metric("spark.jobs_per_op", traced.map(o => jobsOf(o.span.id).size).sum / nOps, "count"),
      Metric("spark.stages_per_op", traced.map(o => stagesOf(o.span.id).size).sum / nOps, "count"),
      Metric("spark.tasks_per_op", allTasks.size / nOps, "count"),
      Metric("spark.catalyst_ms_per_op",
        traced.map(o => plans.filter(p => within(o, p.startMs)).map(_.catalystMs).sum).sum / nOps, "ms"),
      Metric("spark.outside_jobs_share", outsideJobsNs / wallNs, "ratio"),
      Metric("spark.empty_task_share",
        if (allTasks.isEmpty) 0.0 else allTasks.count(_.recordsIn == 0).toDouble / allTasks.size, "ratio"),
      Metric("spark.task_cpu_s", perPass(allTasks.map(_.cpuNs).sum / 1e9), "s"),
      Metric("spark.gc_s", perPass(allTasks.map(_.gcMs).sum / 1e3), "s"),
      Metric("spark.shuffle_write_mb", perPass(allTasks.map(_.shuffleWriteB).sum / 1e6), "MB"),
      Metric("spark.shuffle_read_mb", perPass(allTasks.map(_.shuffleReadB).sum / 1e6), "MB"),
      Metric("spark.spill_mb", perPass(allTasks.map(_.spillB).sum / 1e6), "MB"),
      Metric("spark.codegen_compile_ms", codegenMs, "ms"),
      Metric("streaming.batches", perPass(allBatches.size), "count"),
      Metric("streaming.nodata_batch_share",
        if (allBatches.isEmpty) 0.0 else allBatches.count(_.inputRows == 0).toDouble / allBatches.size, "ratio"),
      Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
      Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
      Metric("streaming.outside_batches_s", perPass(streamOps.map { case (o, bs) =>
        secs(o.span.durNs) - bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
      }.sum), "s"),
      Metric("streaming.state_rows", perPass(lastState.map(_.stateRows).sum.toDouble), "count"),
      Metric("streaming.state_memory_mb", perPass(lastState.map(_.stateMemB).sum / 1e6), "MB"),
      Metric("jvm.heap_peak_mb", heapPeakMb, "MB"),
      Metric("trace.self_op_s", perPass(selfs.map(_(0)).sum / 1e9), "s"),
      Metric("trace.self_phase_s", perPass(selfs.map(_(1)).sum / 1e9), "s"),
      Metric("trace.self_job_s", perPass(selfs.map(_(2)).sum / 1e9), "s"),
      Metric("trace.self_stage_s", perPass(selfs.map(_(3)).sum / 1e9), "s"),
      Metric("trace.overhead_share", if (overhead.isNaN) 0.0 else overhead, "ratio"))
  }

  /** Every span of the run, engine spans included, for the span file. */
  def allSpans(runId: Long, startNs: Long): Seq[Span] = {
    val end = (ops.map(_.span.endNs) ++ passes.map(_.span.endNs)).foldLeft(startNs)(math.max)
    Seq(Span(runId, 0L, 0L, "run", w.name, startNs, end)) ++ passes.map(_.span) ++
      ops.flatMap(o => Seq(o.span) ++ o.phases) ++ traced.flatMap(o => jobSpans(o) ++ stageSpans(o))
  }
}

object Report {
  def spanJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}
