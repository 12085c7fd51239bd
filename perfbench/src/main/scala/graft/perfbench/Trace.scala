package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, monotonic within the process, on the
  * same time base as Spark's event timestamps (epoch milliseconds). */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** One traced interval. Spans nest run → pass → op → phase → job →
  * stage; every span below a pass carries the id of its op. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Intervals {

  /** Total length of the union of half-open intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def clip(xs: Seq[(Long, Long)], within: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for ((s, e) <- xs; (ws, we) <- within; cs = math.max(s, ws); ce = math.min(e, we); if ce > cs)
      yield (cs, ce)

  /** Self time of each nesting level under one root interval: level d's
    * self time is the time covered by level d but by no deeper level,
    * where each level is clipped to the union of the level above it.
    * Element 0 is the root's own (unattributed) time. The result always
    * sums to the root's length, also when sibling spans overlap. */
  def selfTimes(root: (Long, Long), levels: Seq[Seq[(Long, Long)]]): Seq[Long] = {
    val covered = levels.scanLeft(Seq(root))((above, level) => clip(level, above))
      .map(unionLength)
    covered.zip(covered.drop(1) :+ 0L).map { case (a, b) => a - b }
  }
}

/** Raw engine events, recorded by listeners and attributed afterwards. */
final case class JobEvent(jobId: Int, startMs: Long, var endMs: Long)
final case class StageEvent(stageId: Int, jobId: Int, submitMs: Long, doneMs: Long)
final case class TaskEvent(stageId: Int, cpuNs: Long, gcMs: Long,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, recordsIn: Long)
final case class PlanEvent(startMs: Long, catalystMs: Long)
final case class BatchEvent(startMs: Long, durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateMemB: Long, queryId: String)

/** Records batch progress of every streaming query. The untraced runs
  * register only this listener; the batch latencies need it. */
final class BatchListener extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[BatchEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    val ev = BatchEvent(java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, p.id.toString)
    batches.synchronized(batches += ev)
  }
  def snapshot(): Seq[BatchEvent] = batches.synchronized(batches.toList)
}

/** Job, stage and task events plus Catalyst phase times: the traced
  * run's engine view. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[JobEvent]
  private val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[StageEvent]
  private val tasks = ArrayBuffer.empty[TaskEvent]
  private val plans = ArrayBuffer.empty[PlanEvent]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobEvent(e.jobId, e.time, -1L)
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime)
      stages += StageEvent(i.stageId, jobOfStage.getOrElse(i.stageId, -1), s, d)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskEvent(e.stageId, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
  }

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) synchronized {
      plans += PlanEvent(ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def snapshot(): (Seq[JobEvent], Seq[StageEvent], Seq[TaskEvent], Seq[PlanEvent]) = synchronized {
    (jobs.map(_.copy()).toList, stages.toList, tasks.toList, plans.toList)
  }
}
