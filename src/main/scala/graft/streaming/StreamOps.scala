package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etl.{ChainFixture, Dedup, Flatten}
import graft.types.Schemas

/** Structured Streaming surface (SURVEY §7.6 — extension beyond parity:
  * the reference is batch-only; its WS transport is request/response,
  * main.rs:50,173-174).
  *
  * Design rule: streaming transforms are the SAME functions as batch —
  * `foreachBatch` reuses Flatten/Dedup verbatim, so a backfill (batch)
  * and the live tail (stream) cannot diverge. Watermarks bound state;
  * all aggregations are keyed so state partitions across executors.
  */
object StreamOps {

  /** A live event, timestamped — the streaming twin of the events table. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Tumbling-window counts with a 10-minute watermark: late events beyond
    * the watermark are dropped, state is bounded. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding windows (5 min length, 1 min slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows: 30-minute inactivity gap — the streaming equivalent
    * of the batch sessionization query (Relational.q25). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n_events"))

  /** Custom keyed state: per-user running totals with inactivity timeout —
    * flatMapGroupsWithState, the escape hatch the built-in windows can't
    * cover (emits a row per update, carries arbitrary state).
    *
    * State is BOUNDED: a user idle for `idle` of event time past the
    * watermark is evicted (EventTimeTimeout), so state holds only the
    * active working set — with NoTimeout it would grow with the lifetime
    * distinct-user count, a guaranteed OOM on an unbounded stream. */
  case class UserTotals(user_id: Long, n: Long, total: Double)

  def runningTotals(
      events: Dataset[Event],
      idle: java.time.Duration = java.time.Duration.ofMinutes(30)): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val idleMs = idle.toMillis
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserTotals]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the horizon: drop, totals restart at 0
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
            val evs = batch.toSeq
            val next = UserTotals(uid, prev.n + evs.size, prev.total + evs.map(_.value).sum)
            state.update(next)
            // evict `idle` after this user's latest event (and always
            // strictly past the current watermark, as the API requires)
            val maxTs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + idleMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(next)
          }
      }
  }

  /** Per-user funnel progress (streaming twin of the batch
    * `Behavioral.windowFunnel` query). t1/t2/t3 carry the earliest-
    * anchor chain with -1 = unset; one row is emitted each time a
    * user's level INCREASES. */
  case class FunnelProgress(user_id: Long, level: Long,
      t1: Long, t2: Long, t3: Long)

  private def funnelLevel(t1: Long, t2: Long, t3: Long): Long =
    if (t3 >= 0) 3L else if (t2 >= 0) 2L else if (t1 >= 0) 1L else 0L

  /** Streaming windowFunnel: the earliest-anchor greedy chain
    * (view → click → purchase inside `windowMs` of the anchor, strict
    * ts increase — the exact batch contract) folded incrementally per
    * user with flatMapGroupsWithState. Each batch's events are folded
    * in (ts, event_id) order; for a stream delivered in event-time
    * order across batches (the tip-follow case; the parity spec feeds
    * the fixture this way) the final state is row-for-row identical to
    * the batch window chain.
    *
    * State is BOUNDED: a user idle for `retention` of event time is
    * evicted. A funnel whose anchor window has closed can never change
    * level again, so eviction loses nothing for reporting — but a user
    * who RETURNS after eviction starts a fresh funnel EPISODE with a
    * new anchor. That is the streaming-native reading (and the one
    * divergence from the batch global-first-anchor semantics; the
    * episode spec pins it explicitly). */
  def funnelStream(
      events: Dataset[Event],
      windowMs: Long = graft.queries.Behavioral.FunnelWindowMs,
      retention: java.time.Duration = java.time.Duration.ofDays(45)): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val Seq(s1, s2, s3) = graft.queries.Behavioral.FunnelSteps
    val retMs = retention.toMillis
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            state.remove() // closed-or-idle episode: level is frozen, drop
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelProgress(uid, 0L, -1L, -1L, -1L))
            val before = st.level
            val evs = batch.toSeq
            // in-batch fold runs in event-time order regardless of
            // delivery order inside the micro-batch
            evs.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val m = e.ts.getTime
              if (e.event_type == s1 && st.t1 < 0)
                st = st.copy(t1 = m)
              else if (e.event_type == s2 && st.t1 >= 0 && st.t2 < 0 &&
                m > st.t1 && m <= st.t1 + windowMs)
                st = st.copy(t2 = m)
              else if (e.event_type == s3 && st.t2 >= 0 && st.t3 < 0 &&
                m > st.t2 && m <= st.t1 + windowMs)
                st = st.copy(t3 = m)
            }
            st = st.copy(level = funnelLevel(st.t1, st.t2, st.t3))
            state.update(st)
            val maxTs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + retMs, state.getCurrentWatermarkMs() + 1))
            if (st.level > before) Iterator.single(st) else Iterator.empty
          }
      }
  }

  /** One buffered touch inside the attribution window. */
  case class TouchEv(ms: Long, t_id: Long, touch_type: String)

  /** Per-user rolling touch window for the streaming attribution fold. */
  case class TouchWindow(user_id: Long, touches: Seq[TouchEv])

  /** One attributed credit: purchase `p_id` paid `credit_milli` to
    * touch `t_id`. Per purchase the credits sum to exactly 1000. */
  case class AttCredit(user_id: Long, p_id: Long, t_id: Long,
      touch_type: String, credit_milli: Long)

  /** The batch multi-touch attribution operator
    * ([[graft.queries.Behavioral.attributionOf]]) folded incrementally:
    * per user, keep ONLY the touches inside the trailing 24 h window
    * (state is bounded by per-user touch rate × window, the interval-
    * join discipline turned into an eviction rule); on each purchase,
    * split 1000 milli-credits over the buffered in-window touches with
    * the same integer rule (1000 DIV n each, remainder to the most
    * recent touch) and emit the per-touch credit rows. For a stream
    * delivered in event-time order the emitted rows aggregate to the
    * batch query row for row (the parity spec proves it on the real
    * fixture). Same-millisecond ties fold touches BEFORE purchases —
    * the batch predicate `t_ms <= p_ms` counts an equal-timestamp
    * touch, so the fold must see it first regardless of event_id
    * order. Idle users are evicted on event-time timeout; a purchase
    * after eviction simply sees an empty window (unattributed), which
    * is also what the batch query reports for a user idle longer than
    * the window. */
  def attributionStream(
      events: Dataset[Event],
      windowMs: Long = graft.queries.Behavioral.AttributionWindowMs,
      retention: java.time.Duration = java.time.Duration.ofDays(45)): Dataset[AttCredit] = {
    import events.sparkSession.implicits._
    val retMs = retention.toMillis
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchWindow, AttCredit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[TouchWindow]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var buf = state.getOption.map(_.touches.toVector).getOrElse(Vector.empty)
            val out = Vector.newBuilder[AttCredit]
            val evs = batch.toSeq
            // touches fold before purchases at equal ms (see scaladoc)
            evs.sortBy(e => (e.ts.getTime,
              if (e.event_type == "purchase") 1 else 0, e.event_id)).foreach { e =>
              val m = e.ts.getTime
              e.event_type match {
                case "view" | "click" =>
                  buf = (buf :+ TouchEv(m, e.event_id, e.event_type))
                    .filter(_.ms > m - windowMs)
                case "purchase" =>
                  val inWin = buf.filter(t => t.ms <= m && t.ms > m - windowMs)
                  if (inWin.nonEmpty) {
                    val n = inWin.size.toLong
                    // most recent touch (ms desc, id desc) takes the remainder
                    val ranked = inWin.sortBy(t => (-t.ms, -t.t_id))
                    ranked.zipWithIndex.foreach { case (t, i) =>
                      out += AttCredit(uid, e.event_id, t.t_id, t.touch_type,
                        1000L / n + (if (i == 0) 1000L % n else 0L))
                    }
                  }
                case _ => ()
              }
            }
            state.update(TouchWindow(uid, buf))
            val maxTs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + retMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Per-user carry-over state for the streaming transition fold. */
  case class LastEvent(user_id: Long, ms: Long, event_id: Long,
      event_type: String)

  /** One observed consecutive-event transition. */
  case class Transition(user_id: Long, from_event: String, to_event: String,
      ms: Long)

  /** The batch Markov-transition operator ([[graft.queries.Behavioral
    * .transitionsOf]]) folded incrementally: per user, keep only the
    * LAST event seen (constant state per user — the lag window's
    * streaming twin), emit one Transition row per consecutive pair as
    * it completes. Downstream, a foreachBatch rollup or the memory sink
    * aggregates (from, to) counts; the parity spec proves the
    * accumulated counts equal the batch lag-window query row for row
    * when the stream arrives in event-time order. Idle users are
    * evicted on event-time timeout (bounded state, the funnel's
    * discipline) — a returning user simply starts a fresh chain, so an
    * eviction can only LOSE the one bridging transition, never invent
    * one. */
  def transitionsStream(
      events: Dataset[Event],
      retention: java.time.Duration = java.time.Duration.ofDays(45)): Dataset[Transition] = {
    import events.sparkSession.implicits._
    val retMs = retention.toMillis
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // in-batch fold in event-time order regardless of delivery
            // order inside the micro-batch
            val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var last = state.getOption
            val out = Seq.newBuilder[Transition]
            evs.foreach { e =>
              val m = e.ts.getTime
              last.foreach { l =>
                out += Transition(uid, l.event_type, e.event_type, m)
              }
              last = Some(LastEvent(uid, m, e.event_id, e.event_type))
            }
            last.foreach(state.update)
            val maxTs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + retMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** One streaming as-of match: a purchase enriched with the user's
    * latest click at or before it (None = no prior click yet). */
  case class AsOfMatch(user_id: Long, purchase_id: Long,
      last_click_id: Option[Long], last_click_ms: Option[Long])

  /** Streaming AS-OF JOIN ([[graft.queries.Relational.q22]]'s
    * incremental twin): per-user state is ONE row — the latest click
    * seen — and each purchase is enriched as it arrives; same-ms ties
    * order clicks before purchases, exactly q22's `_kind` contract. The
    * batch operator needs the whole history in a running window; the
    * stream holds constant state per user and emits matches online —
    * the feature-store enrichment path at serving time. Idle users are
    * evicted on event-time timeout (their state is only a cache of the
    * last click; a match already emitted is never revised, and a
    * returning user simply starts clickless — the episode semantics
    * the funnel/transitions twins pin). */
  def asofStream(
      events: Dataset[Event],
      retention: java.time.Duration = java.time.Duration.ofDays(45)): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    val retMs = retention.toMillis
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // event-time fold; clicks (kind 0) before purchases at the
            // same ms so "at or before" includes the simultaneous click
            def kind(e: Event): Int = if (e.event_type == "click") 0 else 1
            val evs = batch.toSeq.sortBy(e => (e.ts.getTime, kind(e), e.event_id))
            var lastClick = state.getOption
            val out = Seq.newBuilder[AsOfMatch]
            evs.foreach { e =>
              if (kind(e) == 0)
                lastClick = Some(LastEvent(uid, e.ts.getTime, e.event_id, e.event_type))
              else
                out += AsOfMatch(uid, e.event_id,
                  lastClick.map(_.event_id), lastClick.map(_.ms))
            }
            lastClick.foreach(state.update)
            val maxTs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + retMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Per-user open SCD2 version carried between micro-batches. */
  case class Scd2State(user_id: Long, version: Long, attr: String,
      valid_from_ms: Long, n_events: Long)

  /** One finalized SCD2 dimension row (closed by an attribute change,
    * or the open version finalized at eviction). */
  case class Scd2Row(user_id: Long, version: Long, attr: String,
      valid_from_ms: Long, valid_to_ms: Option[Long], n_events: Long,
      is_current: Boolean)

  /** Streaming SCD Type-2 build ([[graft.queries.Behavioral.scd2Of]]'s
    * incremental twin): per user, the OPEN version is the only state
    * (constant per user); an attribute change CLOSES it — one emitted
    * dimension row with valid_to = the new version's valid_from — and
    * opens the next. Idle users are finalized on event-time timeout:
    * the open version is emitted with valid_to = null / is_current =
    * true and the state dropped, so eviction COMPLETES the dimension
    * instead of losing it. For a stream delivered in event-time order
    * the closed rows are row-for-row the batch operator's non-current
    * rows (the parity spec), and a finalized+returned user restarts at
    * version 1 — the episode semantics the funnel/transitions twins
    * pin. */
  def scd2Stream(
      events: Dataset[Event],
      retention: java.time.Duration = java.time.Duration.ofDays(45)): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    val retMs = retention.toMillis
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Scd2State]) =>
          if (state.hasTimedOut) {
            val fin = state.getOption.map(s => Scd2Row(uid, s.version, s.attr,
              s.valid_from_ms, None, s.n_events, is_current = true))
            state.remove()
            fin.iterator
          } else {
            val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption
            val out = Seq.newBuilder[Scd2Row]
            evs.foreach { e =>
              val m = e.ts.getTime
              st = st match {
                case None =>
                  Some(Scd2State(uid, 1L, e.event_type, m, 1L))
                case Some(s) if s.attr == e.event_type =>
                  Some(s.copy(n_events = s.n_events + 1))
                case Some(s) =>
                  out += Scd2Row(uid, s.version, s.attr, s.valid_from_ms,
                    Some(m), s.n_events, is_current = false)
                  Some(Scd2State(uid, s.version + 1, e.event_type, m, 1L))
              }
            }
            st.foreach(state.update)
            val maxTs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + retMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Stream-stream interval join: impressions ⋈ clicks by user within
    * [0, 10 min] AFTER the impression — the streaming analog of the batch
    * range join (Relational.q21). Both sides carry watermarks and the
    * join condition bounds event time in BOTH directions, so Spark can
    * compute exactly how long each side's state must be retained and
    * drops expired rows — without the time bound, stream-stream join
    * state grows forever. */
  def impressionClickJoin(impressions: DataFrame, clicks: DataFrame): DataFrame = {
    val imp = impressions.withWatermark("ts", "20 minutes")
      .select(col("event_id").as("imp_id"), col("user_id"), col("ts").as("imp_ts"))
    val clk = clicks.withWatermark("ts", "20 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    imp.join(clk,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("imp_ts") &&
          col("click_ts") <= col("imp_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("imp_id"), col("click_id"), col("user_id"),
        col("imp_ts"), col("click_ts"))
  }

  /** Stream-static broadcast enrichment: the live stream joined against
    * a slowly-changing dimension (user → segment here). Stream-static
    * joins are STATELESS — no watermark, no state store: each
    * micro-batch plans an ordinary batch join, and broadcasting the dim
    * keeps the stream side shuffle-free. Left-outer keeps events whose
    * user is missing from the dim (surfaced as 'unknown' instead of
    * silently dropped — the enrichment contract an attribution pipeline
    * needs). At 100 TB/day the dim is the small side by construction;
    * a dim too big to broadcast becomes a pre-bucketed table and the
    * same code plans a shuffle-free bucketed join. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), coalesce(col("segment"), lit("unknown")).as("segment"))

  /** Streaming dedup — D5's contract on a live stream: one row per
    * event_id, with state bounded by the watermark (an id older than the
    * watermark can no longer produce a duplicate, so its state is
    * dropped — the streaming analog of ReplacingMergeTree merges). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming cardinality — the HLL sketch as keyed stream state (the
    * twin of [[graft.ops.SketchOps.hllKeyed]]): per event_type the state
    * is the 64 max-merged registers, CONSTANT-size however many distinct
    * users pass — the whole point of sketched cardinality on an
    * unbounded stream, where exact distinct-user state would grow
    * without bound. Register updates are max-merges, so replayed or
    * re-ordered events are absorbed idempotently, and the stream's final
    * registers equal the batch pipeline's on the same rows
    * (cross-implementation parity: this fold is JVM arithmetic
    * ([[graft.ops.SketchOps.kmvMixLong]]), the batch side is the SQL
    * expression chain — StreamingSpec pins them against each other).
    * Emits one updated estimate row per (key, batch). */
  case class HllEstimate(event_type: String, n_hit: Long, n_zero: Long,
      s_scaled: Long, est_milli: Long)
  case class HllRegs(m: Array[Long])

  def hllDistinctStream(events: Dataset[Event]): Dataset[HllEstimate] = {
    import events.sparkSession.implicits._
    import graft.ops.SketchOps.{HllAlphaMilli, HllM, HllWBits, KmvMod, kmvMixLong}
    val scale = HllWBits + 1
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[HllRegs, HllEstimate](GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[Event], state: GroupState[HllRegs]) =>
          val regs = state.getOption.getOrElse(HllRegs(new Array[Long](HllM))).m
          batch.foreach { e =>
            val ph = graft.functions.PolyHash.fold(
              org.apache.spark.unsafe.types.UTF8String.fromString(e.user_id.toString),
              31L, KmvMod)
            val hv = kmvMixLong(ph)
            val j = (hv % HllM).toInt
            val w = hv / HllM
            val rho = if (w == 0) scale.toLong
              else scale.toLong - (64 - java.lang.Long.numberOfLeadingZeros(w))
            if (rho > regs(j)) regs(j) = rho
          }
          state.update(HllRegs(regs))
          var nHit = 0L; var sHit = 0L
          var j = 0
          while (j < HllM) {
            if (regs(j) > 0) { nHit += 1; sHit += 1L << (scale - regs(j).toInt) }
            j += 1
          }
          val nZero = HllM - nHit
          val sScaled = sHit + nZero * (1L << scale)
          val numer = HllAlphaMilli * HllM * HllM * (1L << scale)
          val raw = numer / sScaled
          val est = if (raw <= 2500L * HllM && nZero > 0)
            HllM * Math.round(1000.0 * math.log(HllM.toDouble / nZero))
          else raw
          HllEstimate(key, nHit, nZero, sScaled, est)
      }
  }

  /** Streaming count-min sketch — the frequency twin of
    * [[hllDistinctStream]], mirroring [[graft.ops.SketchOps
    * .cmsHeavyHitters]]'s counter grid as keyed stream state. State is
    * keyed on the (depth, slot) CELL, not the depth row: 2048 keys of
    * one long each, so updates partition across executors instead of
    * funneling through 4 hot groups, and the total state is the same
    * CONSTANT-size grid however many terms pass — the streaming
    * heavy-hitters shape. Counter updates are associative sums, so
    * batch boundaries cannot change the final grid, and the hashes are
    * the JVM twins of the batch SQL expressions (PolyHash fold + the
    * shared [[graft.ops.SketchOps.cmsAB]] affine rows) — StreamingSpec
    * pins stream-final counters AND probe estimates against the batch
    * pipeline on the same corpus. Emits one updated cell per batch. */
  case class CmsCell(d: Int, slot: Long, c: Long)

  def cmsStream(terms: Dataset[String]): Dataset[CmsCell] = {
    import terms.sparkSession.implicits._
    import graft.ops.SketchOps.{CmsMod, CmsWidth, cmsAB}
    terms
      .flatMap { t =>
        val h = graft.functions.PolyHash.fold(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), 31L, CmsMod)
        cmsAB.zipWithIndex.map { case ((a, b), d) =>
          (d, ((a * h + b) % CmsMod) % CmsWidth)
        }
      }
      .groupByKey(identity)
      .mapGroupsWithState[Long, CmsCell](GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), batch: Iterator[(Int, Long)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + batch.size
          state.update(c)
          CmsCell(key._1, key._2, c)
      }
  }

  /** Streaming quantile-histogram — the third sketch twin (frequencies:
    * [[cmsStream]]; cardinality: [[hllDistinctStream]]; quantiles:
    * here), mirroring [[graft.ops.SketchOps.quantileHist]]'s
    * (group, ln-bucket, count) grid as keyed stream state. Counter
    * updates are associative sums, so the final grid is independent of
    * batch boundaries, and any quantile is a cumulative walk over the
    * emitted cells — a live p99 without ever sorting the stream. The
    * bucket map is the JVM twin of the batch SQL expression
    * round(1000·ln(1+v)) DIV width (nonnegative domain, where HALF_UP
    * and floor(x+0.5) agree); StreamingSpec pins stream-final cells AND
    * the quantile picks against the batch pipeline on the same rows. */
  case class QCell(grp: String, bucket: Long, c: Long)

  def quantileHistStream(values: Dataset[(String, Long)]): Dataset[QCell] = {
    import values.sparkSession.implicits._
    import graft.ops.SketchOps.QWidthMilli
    values
      .map { case (g, v) =>
        (g, Math.round(1000.0 * math.log(1.0 + v)) / QWidthMilli)
      }
      .groupByKey(identity)
      .mapGroupsWithState[Long, QCell](GroupStateTimeout.NoTimeout) {
        (key: (String, Long), batch: Iterator[(String, Long)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + batch.size
          state.update(c)
          QCell(key._1, key._2, c)
      }
  }

  /** Streaming Misra-Gries heavy hitters (Misra & Gries 1982; the
    * mergeable-summary form of Agarwal et al., PODS 2012) — the
    * BOUNDED-MEMORY top-k twin: where [[cmsStream]] keeps a constant
    * grid and answers point probes, this keeps at most K counters per
    * shard and answers "which terms are heavy" directly. Terms shard by
    * hash (so the summary scales across executors and no single group
    * funnels the stream); each shard's state is a capacity-K counter
    * map plus the running decrement total that prices its error.
    *
    * Order-robustness: a micro-batch's items are EXACTLY counted first,
    * then merged into the state with ONE deterministic Misra-Gries
    * decrement (subtract the (K+1)-th largest merged count; drop ≤ 0) —
    * so the result never depends on row order within a batch. Across
    * different batch SPLITS the summary is not cell-identical (decrement
    * timing differs — inherent to MG); what IS invariant, and what the
    * spec pins against exact batch counts, is the guarantee:
    * true − decs ≤ est ≤ true per surviving term, every term with
    * true > decs survives, and decs ≤ N_shard/(K+1). Under a
    * CONTRACTUAL ordered split (StreamParity.landOrdered) the state
    * evolution is additionally a pure function of the fixture, which is
    * how stream_mg_parity grades it cell-exactly against a per-batch
    * simulation oracle (r15 — the move that graded the timeout twins). */
  case class MgSummary(shard: Int, n: Long, terms: Seq[String], ests: Seq[Long], decs: Long)
  case class MgState(m: Map[String, Long], decs: Long, n: Long)

  val MgK = 8
  val MgShards = 4
  val MgMod = 1000000007L

  def heavyHittersStream(terms: Dataset[String]): Dataset[MgSummary] = {
    import terms.sparkSession.implicits._
    terms
      .map { t =>
        val h = graft.functions.PolyHash.fold(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), 31L, MgMod)
        ((h % MgShards).toInt, t)
      }
      .groupByKey(_._1)
      .mapGroupsWithState[MgState, MgSummary](GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[(Int, String)], state: GroupState[MgState]) =>
          val prev = state.getOption.getOrElse(MgState(Map.empty, 0L, 0L))
          val batchCounts = batch.foldLeft(Map.empty[String, Long]) {
            case (m, (_, t)) => m.updated(t, m.getOrElse(t, 0L) + 1L)
          }
          val n = prev.n + batchCounts.values.sum
          var merged = batchCounts.foldLeft(prev.m) { case (m, (t, c)) =>
            m.updated(t, m.getOrElse(t, 0L) + c)
          }
          var decs = prev.decs
          if (merged.size > MgK) {
            // (K+1)-th largest merged count: everything <= it drops to
            // <= 0, so at most K entries survive — one deterministic,
            // order-free decrement per batch
            val d = merged.values.toSeq.sortBy(-_).apply(MgK)
            merged = merged.iterator
              .map { case (t, c) => (t, c - d) }
              .filter(_._2 > 0L)
              .toMap
            decs += d
          }
          state.update(MgState(merged, decs, n))
          val sorted = merged.toSeq.sortBy { case (t, c) => (-c, t) }
          // n is strictly monotone per emission (a shard with no new
          // rows is not invoked), so the max-n row IS the final summary
          MgSummary(shard, n, sorted.map(_._1), sorted.map(_._2), decs)
      }
  }

  /** Incremental near-dup detection on a live document stream. Each
    * micro-batch runs the SAME batch MinHash pipeline: candidates are the
    * union of (1) the batch's own banded+bucket-capped self-pairs — so
    * near-dups arriving in one micro-batch (including the whole first
    * batch) are caught — and (2) band-key collisions against the
    * accumulated index, with index buckets over MaxBucket skipped (the
    * batch pipeline's skew cap, applied to the stored side). Every
    * candidate then passes the SAME exact-shingle Jaccard ≥ 0.5 verify
    * before landing in dup_pairs (canonical a < b), so emitted pairs are
    * verified duplicates, not raw LSH collisions. State is two
    * partitionable TABLES — the band index and the shingle sets that
    * back the verify — not executor memory: a restart resumes from the
    * files, and the live tail matches a batch re-run over the full
    * corpus (modulo cap timing: batch caps buckets over the final
    * corpus, the stream caps as of each batch). At scale the per-batch
    * hot-bucket aggregate would be maintained incrementally as a third
    * bucket-count table rather than recomputed from the index.
    *
    * Replay-safe per batchId (same failure window as the rollup): each
    * batch lands its three outputs in its own `batch_id=<id>` partition
    * via dynamic overwrite, so a replayed batch REWRITES its partitions
    * instead of appending duplicates, and the state reads exclude the
    * replaying batch's own earlier partial write (otherwise its shingles
    * would appear twice in the verify and break exact Jaccard). */
  /** One micro-batch's near-dup merge — factored out so the replay test
    * can drive the exact failure window (same batchId, same data,
    * against state that already contains the batch's own writes). */
  def nearDupBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      batchId: Long): Unit = {
    import graft.ops.DedupOps
    val idxPath = s"$stateDir/band_index"
    val shPath = s"$stateDir/shingle_index"
    val pairsPath = s"$stateDir/dup_pairs"
    def land(df: DataFrame, path: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    // state as of the PREVIOUS committed batch: a crashed attempt of
    // THIS batch may have landed partitions already — exclude them
    def state(path: String): Option[DataFrame] = {
      val (fs, p) = graft.etl.WarehouseFs.resolve(spark, path)
      if (graft.etl.WarehouseFs.exists(fs, p))
        Some(spark.read.parquet(path).filter(col("batch_id") =!= batchId))
      else None
    }
    val sh = DedupOps.shingleSet(batch).localCheckpoint()
    val keys = DedupOps.bandKeysFromShingles(sh).localCheckpoint()
    val intra = DedupOps.minhashCandidatesFromShingles(sh)
      .select(col("a"), col("b"))
    val cross = state(idxPath) match {
      case Some(existing) =>
        val hot = existing.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("_n"))
          .filter(col("_n") > DedupOps.MaxBucket)
          .select(col("band"), col("band_key"))
        existing.join(hot, Seq("band", "band_key"), "left_anti")
          .withColumnRenamed("doc_id", "x")
          .join(keys.withColumnRenamed("doc_id", "y"), Seq("band", "band_key"))
          .filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
      case None => intra.limit(0)
    }
    val cand = intra.unionByName(cross).distinct().localCheckpoint()
    // Exact verify needs both sides' shingle sets: stored state for
    // earlier docs, this batch's for new ones — semi-joined down to
    // just the docs that appear in a candidate pair.
    val stored = state(shPath)
      .map(_.select(col("doc_id"), col("shingle")))
      .getOrElse(sh.select(col("doc_id"), col("shingle")).limit(0))
    val ids = cand.select(col("a").as("doc_id"))
      .unionByName(cand.select(col("b").as("doc_id"))).distinct()
    val allSh = stored
      .unionByName(sh.select(col("doc_id"), col("shingle")))
      .join(ids, Seq("doc_id"), "left_semi")
    land(DedupOps.jaccard(cand, allSh)
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"), col("jaccard")), pairsPath)
    land(keys, idxPath)
    land(sh.select(col("doc_id"), col("shingle")), shPath)
    ()
  }

  def nearDupStreamIngest(
      spark: SparkSession,
      docs: DataFrame, // streaming frame with (doc_id: Long, text: String)
      stateDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupBatch(spark, batch, stateDir, batchId)
      }
      .start()

  /** Incremental materialized aggregate: foreachBatch maintains a
    * parquet daily-rollup table by rewriting ONLY the day partitions the
    * micro-batch touches (dynamic partition overwrite): read back the
    * touched days' current totals, merge the batch's deltas, overwrite
    * those partitions. At 100 TB/day the rewrite cost is bounded by the
    * day grain a batch spans, not the table size. This is the Delta-less
    * streaming-upsert shape the reference's 1000-block flush implies,
    * applied to an aggregate instead of raw rows. */
  /** One micro-batch's merge into the rollup table — factored out so a
    * checkpointed query (exactly-once restart, see StreamingSpec) and
    * the convenience starter below share the identical logic.
    *
    * Replay-safe per batchId: foreachBatch's standard failure window is
    * "sink write committed, checkpoint offset not", after which the SAME
    * batchId replays with the same data — an additive merge would
    * double-count. Every rewritten day partition carries a `last_batch`
    * column recording the batch that produced it; the marker rides in the
    * same partition write, so data and applied-batch record commit
    * atomically PER PARTITION. On replay, days whose stored last_batch ≥
    * this batchId are skipped (their delta was already folded in), and a
    * crash mid-overwrite replays exactly the days that didn't land. */
  def dailyRollupBatch(spark: SparkSession, batch: DataFrame, tablePath: String,
      batchId: Long): Unit = {
    val delta = batch
      .select(expr("CAST(CAST(ts AS TIMESTAMP) AS DATE)").as("day"),
        col("event_type"), col("value"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val existing =
      if ({ val (fs, p) = graft.etl.WarehouseFs.resolve(spark, tablePath)
            graft.etl.WarehouseFs.exists(fs, p) }) {
        // mergeSchema: after a partial upgrade the table holds MIXED
        // per-partition schemas (old partitions without last_batch, new
        // ones with it); the default footer-sampling read could pick an
        // old file and hide real markers — merging unions the schemas so
        // markers always surface. Old partitions then read last_batch as
        // NULL → coalesce to the never-applied sentinel.
        val t = spark.read.option("mergeSchema", "true").parquet(tablePath)
        val withMarker =
          if (t.columns.contains("last_batch"))
            t.withColumn("last_batch", coalesce(col("last_batch"), lit(-1L)))
          else t.withColumn("last_batch", lit(-1L)) // pre-upgrade table: no marker anywhere
        withMarker.join(delta.select(col("day")).distinct(), Seq("day"), "left_semi")
      } else spark.emptyDataFrame
        .withColumn("day", lit(null).cast("date"))
        .withColumn("event_type", lit(null).cast("string"))
        .withColumn("n", lit(null).cast("long"))
        .withColumn("total", lit(null).cast("double"))
        .withColumn("last_batch", lit(null).cast("long"))
        .limit(0)
    val appliedDays = existing.filter(col("last_batch") >= batchId)
      .select(col("day")).distinct()
    val freshDelta = delta.join(appliedDays, Seq("day"), "left_anti")
    val freshExisting = existing.join(appliedDays, Seq("day"), "left_anti")
      .select(col("day"), col("event_type"), col("n"), col("total"))
    // localCheckpoint materializes the merge BEFORE the overwrite —
    // the write must not read the path it is replacing
    freshDelta.unionByName(freshExisting)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      .withColumn("last_batch", lit(batchId))
      .localCheckpoint()
      .write.mode("overwrite")
      // per-write option: the micro-batch runs on a cloned session,
      // so a session-conf set from outside would not reach it
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(tablePath)
    ()
  }

  def dailyRollupStream(
      spark: SparkSession,
      events: DataFrame,
      tablePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dailyRollupBatch(spark, batch, tablePath, batchId)
      }
      .start()

  /** One micro-batch of the streaming chain ingest — factored out (like
    * dailyRollupBatch) so the starter below and a harness-run
    * checkpointed query share the identical logic: the batch's block
    * heights drive the SAME batch flattens (C1-C4) + dedup (D5), and
    * the rows land in the batch's own `batch_id` partition via dynamic
    * overwrite, so a replayed batch rewrites its partition instead of
    * appending duplicate rows. */
  def chainIngestBatch(spark: SparkSession, batch: DataFrame, warehouse: String,
      batchId: Long): Unit = {
    import spark.implicits._
    val nums = batch.select(col("number")).as[Long]
    val blocks = nums.map(ChainFixture.genBlock)
    val receipts = nums.map(ChainFixture.genReceipts)
    val rows = Flatten.transactionRows(blocks, receipts)
    Dedup.exact(rows, Schemas.dedupKeys("transactions"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$warehouse/transactions_stream")
  }

  /** Streaming chain ingest: a stream of block heights through
    * [[chainIngestBatch]] — the micro-batch is the reference's
    * 1000-block flush unit, arriving live. */
  def chainIngestStream(
      spark: SparkSession,
      heights: DataFrame, // streaming frame with a `number: Long` column
      warehouse: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = heights
      .writeStream
      .outputMode(OutputMode.Append)
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        chainIngestBatch(spark, batch, warehouse, batchId)
      }
      .start()
  }
}
