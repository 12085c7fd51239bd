package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.GraftSession
import graft.streaming.StreamParity

/** Blow-up sweep for the streaming parity family (r13 verdict
  * next-round #6: the batch families have measured 1×/5×/10× curves;
  * the streaming entries had none). Scales input 10× (sf0.01 → sf0.1
  * events: 10k → 100k rows) and the forced micro-batch count 4 → 16 on
  * the three structurally distinct maintainers — rollup (foreachBatch
  * partition-merge, no state store), tumbling window (watermarked agg
  * state), session (merging session state) — and records wall time plus
  * the state store's peak row count and memory from the progress events
  * a StreamingQueryListener observes. Output: one line per
  * (query, sf, numBatches) for SCALE.md's linearity table.
  *
  * Usage: runMain graft.tools.StreamScaleBench [reps]
  */
object StreamScaleBench {

  final class StateProbe extends StreamingQueryListener {
    @volatile var maxRows = 0L
    @volatile var maxMem = 0L
    @volatile var batches = 0
    def reset(): Unit = { maxRows = 0L; maxMem = 0L; batches = 0 }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches += 1
      e.progress.stateOperators.foreach { so =>
        if (so.numRowsTotal > maxRows) maxRows = so.numRowsTotal
        if (so.memoryUsedBytes > maxMem) maxMem = so.memoryUsedBytes
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new StateProbe
    spark.streams.addListener(probe)
    val cases: Seq[(String, String, Int, () => Unit)] = for {
      sf <- Seq("sf0.01", "sf0.1")
      nb <- Seq(4, 16)
      (name, run) <- Seq[(String, (String, Int) => Unit)](
        ("rollup", (d, n) =>
          StreamParity.streamRollupParityN(spark, d, n, 0L, s"_ssb$n").count()),
        ("window", (d, n) =>
          StreamParity.streamWindowParityN(spark, d, n,
            StreamParity.SliceHashMod, s"_ssb$n").count()),
        ("session", (d, n) =>
          StreamParity.streamSessionParityN(spark, d, n, s"_ssb$n").count()),
        // the timeout twins: per-user fMGWS state + evictions firing
        ("funnel", (d, n) =>
          StreamParity.streamFunnelParityN(spark, d, n, 1L,
            StreamParity.EpisodeRetMs, s"_ssb$n").count()),
        ("totals", (d, n) =>
          StreamParity.streamTotalsParityN(spark, d, n, 3L,
            StreamParity.EpisodeRetMs, s"_ssb$n").count()))
    } yield (name, sf, nb, () => run(s"/root/testdata/$sf", nb))
    println("query\tsf\tnumBatches\twall_best_s\tstate_rows_max\tstate_mem_max_b\tprogress_events")
    // Listener events arrive asynchronously on the bus: poll until the
    // probe's batch counter stabilizes before sampling it, so the final
    // batches' events are counted and a prior case's late events cannot
    // leak past the next reset (ADVICE r14).
    def drain(): Unit = {
      var prev = -1; var stable = 0
      val deadline = System.nanoTime() + 5000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val b = probe.batches
        if (b == prev) stable += 1 else { stable = 0; prev = b }
        Thread.sleep(100)
      }
    }
    cases.foreach { case (name, sf, nb, run) =>
      val walls = (1 to reps).map { _ =>
        probe.reset()
        val t0 = System.nanoTime()
        run()
        val w = (System.nanoTime() - t0) / 1e9
        drain() // outside the timed section
        w
      }
      // listener fields reflect the LAST rep (state size is
      // deterministic per case; wall takes the min)
      println(f"$name\t$sf\t$nb\t${walls.min}%.2f\t${probe.maxRows}\t${probe.maxMem}\t${probe.batches}")
    }
    spark.stop()
  }
}
