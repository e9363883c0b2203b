package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Structured Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Batch/stream parity: each transform takes a DataFrame, so the same
  * code runs on `spark.read` (batch backfill, oracle-checked via
  * q08/q11-style queries) and `spark.readStream` (incremental). At scale
  * the watermark bounds state; the windowed aggregate is a streaming
  * partial+final hash agg keyed by (window, event_type).
  */
object EventStreams {

  /** Schema-adaptive event-time column: the test parquet's `ts` has
    * shipped as both TIMESTAMP(NANOS) (read as LongType under the
    * `nanosAsLong` legacy conf) and TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ), so the engine inspects the bound schema instead of
    * assuming one encoding:
    *  - LongType       → epoch nanos; integer-DIV to micros preserves
    *                     sub-ms precision (double division loses bits at 1e18)
    *  - TIMESTAMP_NTZ  → cast to TIMESTAMP. Sessions run with
    *                     spark.sql.session.timeZone=UTC, so the wall-clock
    *                     reinterpretation is value-identical to the raw
    *                     micros — same instants the nanos path produced —
    *                     and downstream watermarks / Instant encoders get
    *                     the TimestampType they require.
    *  - TIMESTAMP      → used as-is. */
  def eventTime(events: DataFrame, tsCol: String = "ts"): Column =
    events.schema(tsCol).dataType match {
      case LongType        => timestamp_micros(expr(s"$tsCol DIV 1000"))
      case TimestampType   => col(tsCol)
      case TimestampNTZType => col(tsCol).cast(TimestampType)
      case other: DataType  => col(tsCol).cast(TimestampType)
    }

  /** Events with `event_time` derived from `ts` (see [[eventTime]]). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", eventTime(events))

  /** Tumbling-window counts/sums per event type with a watermark. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))

  /** Sliding-window per-user activity rate. */
  def slidingUserActivity(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen, slide), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))

  /** Streaming exact deduplication: drop rows whose key was already
    * seen within the watermark horizon (dropDuplicatesWithinWatermark)
    * — the streaming twin of the batch content-hash dedup (t01). State
    * is bounded by the watermark: keys older than the horizon are
    * evicted, so the operator runs indefinitely on an unbounded stream
    * with memory proportional to the horizon's key cardinality, not the
    * stream's. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class SessionEvent(user_id: Long, event_time: java.time.Instant, value: Double)
  /** session bounds tracked in epoch MICROseconds to preserve the source
    * timestamps' sub-millisecond precision */
  final case class SessionState(startUs: Long, endUs: Long, n: Long, total: Double)
  final case class UserSession(user_id: Long, session_start: java.time.Instant,
      session_end: java.time.Instant, n_events: Long, total_value: Double)

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000
  private def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState; event-time timeout driven by watermark).
    * Emits a session when `gap` elapses with no new event for the user. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMs * 1000L
    val typed = withEventTime(events)
      .select(col("user_id"), col("event_time"), col("value"))
      .withWatermark("event_time", "2 hours")
      .as[SessionEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, events, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(uid, instant(s.startUs), instant(s.endUs), s.n, s.total))
          } else {
            val sorted = events.toSeq.sortBy(e => micros(e.event_time))
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.event_time)
              cur match {
                case Some(s) if t - s.endUs <= gapUs =>
                  cur = Some(s.copy(endUs = math.max(s.endUs, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= UserSession(uid, instant(s.startUs), instant(s.endUs), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000L + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  final case class AsofIn(user_id: Long, event_time: java.time.Instant,
      is_left: Boolean, event_id: Long, value: Double)
  final case class AsofRow(tsUs: Long, id: Long, value: Double)
  final case class AsofState(pending: Seq[AsofRow], rights: Seq[AsofRow])
  final case class AsofEnriched(user_id: Long, event_id: Long,
      left_ts: java.time.Instant, left_value: Double,
      right_ts: Option[java.time.Instant], right_value: Option[Double])

  /** Streaming twin of `ops.Temporal.asofJoin`: enrich each `leftType`
    * event with the most recent `rightType` event (inclusive, per user)
    * — point-in-time feature lookup over an unbounded, out-of-order
    * stream.
    *
    * Correctness under reordering: a left row is held in state until
    * the watermark passes its event time; by the watermark guarantee
    * every right row at or before that instant has arrived, so the
    * match emitted is the one the batch operator computes. Ties
    * (simultaneous rights) resolve to the highest event_id, same as
    * the batch tie-break.
    *
    * State shape: pending lefts drain as the watermark advances
    * (event-time timeouts fire even when the user goes quiet), and of
    * the rights at or below the watermark only the single latest is
    * retained — exactly the one a future left may still need. That
    * sealed right is NOT horizon-bounded by default: it persists for as
    * long as the user might send another left, so total state grows
    * with distinct-user cardinality (one tiny row per user ever seen).
    * For long-running high-cardinality streams set `idleStateTtlMs` >
    * 0: a user with no activity for that long has their sealed right
    * dropped (a left arriving later than the TTL after the user's last
    * event then enriches as NULL instead of the stale right — the
    * standard state-TTL correctness trade). */
  def asofEnrichStream(events: DataFrame, leftType: String = "purchase",
      rightType: String = "click",
      watermark: String = "2 hours",
      idleStateTtlMs: Long = 0L): Dataset[AsofEnriched] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = withEventTime(events)
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("event_time"),
        (col("event_type") === lit(leftType)).as("is_left"),
        col("event_id"), col("value"))
      .withWatermark("event_time", watermark)
      .as[AsofIn]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofEnriched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, incoming, state: GroupState[AsofState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          val in = incoming.toSeq
          // Idle-TTL expiry: the only way a timeout fires with nothing
          // pending is the idle timer set below — the user has been
          // quiet for idleStateTtlMs past the watermark. Reclaim only
          // SEALED rights (at or below the watermark): a live right that
          // arrived with event time ahead of the watermark has not had
          // its chance to match yet, so it stays and the timer re-arms.
          if (state.hasTimedOut && in.isEmpty && prev.pending.isEmpty) {
            val live = prev.rights.filter(_.tsUs > wmUs)
            if (live.isEmpty) state.remove()
            else {
              state.update(AsofState(Nil, live))
              state.setTimeoutTimestamp(wmMs + idleStateTtlMs)
            }
            Iterator.empty
          } else {
            def row(e: AsofIn) = AsofRow(micros(e.event_time), e.event_id, e.value)
            val rights = (prev.rights ++ in.filterNot(_.is_left).map(row))
              .sortBy(r => (r.tsUs, r.id))
            // STRICTLY below the watermark: Spark only guarantees no more
            // arrivals with event time < watermark, so a right event AT
            // the watermark may still show up — a left emitted at equality
            // could miss its inclusive-match right.
            val (emit, pending) =
              (prev.pending ++ in.filter(_.is_left).map(row))
                .partition(_.tsUs < wmUs)
            def enrich(l: AsofRow): AsofEnriched = {
              val m = rights.takeWhile(_.tsUs <= l.tsUs).lastOption
              AsofEnriched(uid, l.id, instant(l.tsUs), l.value,
                m.map(r => instant(r.tsUs)), m.map(_.value))
            }
            val out = emit.sortBy(l => (l.tsUs, l.id)).map(enrich)
            // Rights at or below the watermark can never be out-matched
            // by a late arrival; only the latest of them stays.
            val (sealed_, live) = rights.partition(_.tsUs <= wmUs)
            val kept = sealed_.lastOption.toSeq ++ live
            if (pending.isEmpty && kept.isEmpty) state.remove()
            else {
              state.update(AsofState(pending, kept))
              if (pending.nonEmpty)
                state.setTimeoutTimestamp(
                  math.max(pending.map(_.tsUs).min / 1000L + 1, wmMs + 1))
              else if (idleStateTtlMs > 0)
                // nothing pending: arm the idle timer so a quiet user's
                // sealed right is eventually reclaimed (see Scaladoc).
                state.setTimeoutTimestamp(wmMs + idleStateTtlMs)
            }
            out.iterator
          }
      }
  }

  final case class FunnelIn(user_id: Long, event_time: java.time.Instant,
      flags: Int)
  final case class FunnelEv(tsUs: Long, flags: Int)
  /** stage emitted so far, the per-level max-anchor slots (the
    * windowed-funnel DP state — [[graft.ops.Funnel.matchStepsWindowed]]'s
    * `slotOld`, rolled at each seal boundary because every future event
    * is strictly later than every sealed one; `Long.MinValue` = unset;
    * empty = all-unset, the completed-user residue), and events not yet
    * sealed by the watermark */
  final case class FunnelSt(stage: Int, anchors: Seq[Long],
      pending: Seq[FunnelEv])
  /** One funnel stage transition: `stage` (1-based) was reached at
    * `reached_at`. Emissions per user are monotone in `stage`. */
  final case class FunnelAdvance(user_id: Long, stage: Int,
      reached_at: java.time.Instant)

  /** Streaming twin of [[graft.ops.Funnel.matchSteps]] (and, with
    * `windowUs`, of [[graft.ops.Funnel.matchStepsWindowed]]) — per-user
    * strictly-ordered step matching over an unbounded event stream,
    * emitting one row per first reach of each stage as it becomes
    * final. Events buffer until the watermark passes their event time
    * (only then is their order complete — the [[asofEnrichStream]]
    * discipline), so every emission is identical to what the batch
    * funnel computes over the sealed prefix: stream emissions are
    * always a subset (prefix per user) of the batch reach, equal once
    * the watermark passes the last event (parity spec).
    *
    * With `windowUs` set, a chain must complete within that span of
    * its own step-1 anchor, and an expired funnel RE-ARMS from a
    * fresher anchor — the same two-slot max-anchor DP as the batch
    * operator, whose per-user state is O(k) anchors; `reached_at` is
    * then the earliest time ANY valid chain reaches the stage (the
    * batch `step_i_us`). Without it the DP degenerates to the
    * unwindowed greedy and emissions are the layered-min times, as
    * before. Anchors older than the watermark minus the window can
    * never satisfy another advance and are pruned each batch.
    *
    * State per user is O(pending-within-horizon) while the funnel is
    * live and one tiny row once complete or drained — a completed
    * user's state cannot be dropped, or a later event would restart
    * the funnel from stage 0 and emit duplicate transitions. Events
    * matching NO step are dropped before grouping (they can never
    * advance a stage and the checks only read advance anchors), so
    * state holds only relevant events.
    *
    * That one-tiny-row residue still grows with distinct-user
    * cardinality on an unbounded stream. For long-running
    * high-cardinality deployments set `idleStateTtlMs` > 0
    * (the [[asofEnrichStream]] knob): a user idle for that long past
    * the watermark has their residue dropped — the standard state-TTL
    * correctness trade, here meaning an event arriving later than the
    * TTL after the user's last activity RESTARTS their funnel from
    * stage 0 and may re-emit early transitions. */
  def funnelStream(events: DataFrame, steps: Seq[org.apache.spark.sql.Column],
      watermark: String = "2 hours",
      idleStateTtlMs: Long = 0L,
      windowUs: Option[Long] = None): Dataset[FunnelAdvance] = {
    val k = steps.size
    require(k >= 1 && k <= 8, s"1..8 funnel steps supported, got $k")
    windowUs.foreach(w => require(w >= 1, s"windowUs must be >= 1, got $w"))
    val spark = events.sparkSession
    import spark.implicits._
    val flags = steps.zipWithIndex.map { case (p, i) =>
      when(coalesce(p.cast("boolean"), lit(false)), lit(1 << i))
        .otherwise(lit(0))
    }.reduce(_ + _)
    val typed = withEventTime(events)
      .select(col("user_id"), col("event_time"), flags.cast("int").as("flags"))
      .filter(col("flags") =!= 0)
      .withWatermark("event_time", watermark)
      .as[FunnelIn]
    val UNSET = Long.MinValue
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, incoming, state: GroupState[FunnelSt]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prev = state.getOption.getOrElse(FunnelSt(0, Nil, Nil))
          val in = incoming.toSeq
          // idle-TTL expiry: a timeout with nothing incoming and
          // nothing pending can only be the idle timer below — drop
          // the user's residue (see the Scaladoc trade)
          if (state.hasTimedOut && in.isEmpty && prev.pending.isEmpty) {
            state.remove()
            Iterator.empty
          } else {
          val all = prev.pending ++
            in.map(e => FunnelEv(micros(e.event_time), e.flags))
          // STRICTLY below the watermark (see asofEnrichStream): an
          // event AT the watermark may still gain same-time siblings
          val (sealed_, pending) = all.partition(_.tsUs < wmUs)
          // the batch DP over the sealed suffix: `anchors` is slotOld
          // (every carried chain's last event precedes this batch),
          // slotCur blocks same-instant chaining within the batch
          val anchors =
            if (prev.anchors.isEmpty) Array.fill(k)(UNSET)
            else prev.anchors.toArray
          val slotCur = Array.fill(k)(UNSET)
          var stage = prev.stage
          var curTime = UNSET
          var anyRow = false
          def roll(): Unit = {
            var i = 0
            while (i < k) {
              if (slotCur(i) > anchors(i)) anchors(i) = slotCur(i)
              slotCur(i) = UNSET
              i += 1
            }
          }
          val out = Seq.newBuilder[FunnelAdvance]
          sealed_.sortBy(_.tsUs).foreach { e =>
            if (anyRow && e.tsUs != curTime) roll()
            curTime = e.tsUs; anyRow = true
            var i = 0
            while (i < k) {
              if (((e.flags >> i) & 1) == 1) {
                val anchor =
                  if (i == 0) e.tsUs
                  else {
                    val a = anchors(i - 1)
                    if (a != UNSET && windowUs.forall(e.tsUs - a <= _)) a
                    else UNSET
                  }
                if (anchor != UNSET) {
                  if (anchor > slotCur(i)) slotCur(i) = anchor
                  if (i + 1 > stage) {
                    stage = i + 1
                    out += FunnelAdvance(uid, stage, instant(e.tsUs))
                  }
                }
              }
              i += 1
            }
          }
          roll() // every future event is strictly later than the sealed
          // a windowed anchor older than wm - W can never advance again
          windowUs.foreach { w =>
            var i = 0
            while (i < k) {
              if (anchors(i) != UNSET && wmUs - anchors(i) > w)
                anchors(i) = UNSET
              i += 1
            }
          }
          val keep = if (stage >= k) Nil else pending
          // completed users keep only the tiny (stage, Nil, Nil) residue
          val keepAnchors =
            if (stage >= k || anchors.forall(_ == UNSET)) Nil
            else anchors.toSeq
          if (stage == 0 && keep.isEmpty && keepAnchors.isEmpty) {
            // nothing reached, nothing buffered, no live anchors:
            // dropping the state is lossless (a later event recreates
            // it identically)
            if (state.exists) state.remove()
          } else {
            state.update(FunnelSt(stage, keepAnchors, keep))
            if (keep.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(keep.map(_.tsUs).min / 1000L + 1, wmMs + 1))
            else if (idleStateTtlMs > 0)
              // residue only (stage reached, nothing pending): arm the
              // idle timer so a quiet user is eventually reclaimed
              state.setTimeoutTimestamp(wmMs + idleStateTtlMs)
          }
          out.result().iterator
          }
      }
  }

  final case class RetentionIn(user_id: Long,
      event_time: java.time.Instant)
  /** cohort bucket (epoch day; Long.MinValue = not yet sealed), the
    * offsets already emitted, and unsealed event times (micros) */
  final case class RetentionSt(cohortDay: Long, seen: Seq[Int],
      pending: Seq[Long])
  /** One first-activity hit: the user was active in cohort+offset for
    * the first time. `groupBy(cohort, offset).count` over this stream
    * (update mode) IS the live retention matrix. */
  final case class RetentionHit(user_id: Long, cohort: java.sql.Date,
      offset: Int)

  /** Streaming twin of [[graft.ops.Retention.retentionMatrix]]
    * (first-touch cohorts): per user, emit each (cohort, offset)
    * period exactly once, as soon as the watermark seals an event in
    * it. Events buffer until sealed because the cohort is the MINIMUM
    * bucket — only the watermark makes it final (a late earlier event
    * would re-cohort the user). Aggregating the hits is one streaming
    * hash aggregate in update mode; the parity spec pins
    * hits-aggregated == the batch matrix.
    *
    * Buckets share the batch operator's UTC calendar: day = epoch day,
    * week = Monday truncation, month = first of month; offsets use the
    * same integer formulas. State per user is the cohort + one Int per
    * active period (bounded by the horizon in periods); set
    * `idleStateTtlMs` > 0 to reclaim users idle that long past the
    * watermark (the standard TTL trade: a user returning later than
    * the TTL re-cohorts and may re-emit). */
  def retentionHitsStream(events: DataFrame, granularity: String = "week",
      watermark: String = "2 hours",
      idleStateTtlMs: Long = 0L): Dataset[RetentionHit] = {
    require(Seq("day", "week", "month").contains(granularity),
      s"granularity must be day/week/month, got `$granularity`")
    val spark = events.sparkSession
    import spark.implicits._
    val UNSET = Long.MinValue
    val usPerDay = 86400000000L
    def bucketDay(tsUs: Long): Long = {
      val d = Math.floorDiv(tsUs, usPerDay)
      granularity match {
        case "day" => d
        // epoch day 0 = Thursday; Mondays are ≡ 4 (mod 7)
        case "week" => d - Math.floorMod(d - 4L, 7L)
        case "month" =>
          java.time.LocalDate.ofEpochDay(d).withDayOfMonth(1).toEpochDay
      }
    }
    def offsetOf(bkt: Long, cohort: Long): Int = granularity match {
      case "day" => (bkt - cohort).toInt
      case "week" => ((bkt - cohort) / 7L).toInt
      case "month" =>
        val b = java.time.LocalDate.ofEpochDay(bkt)
        val c = java.time.LocalDate.ofEpochDay(cohort)
        (b.getYear - c.getYear) * 12 + (b.getMonthValue - c.getMonthValue)
    }
    val typed = withEventTime(events)
      .select(col("user_id"), col("event_time"))
      .filter(col("event_time").isNotNull)
      .withWatermark("event_time", watermark)
      .as[RetentionIn]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionSt, RetentionHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, incoming, state: GroupState[RetentionSt]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prev = state.getOption.getOrElse(RetentionSt(UNSET, Nil, Nil))
          val in = incoming.toSeq
          if (state.hasTimedOut && in.isEmpty && prev.pending.isEmpty) {
            state.remove()
            Iterator.empty
          } else {
          val all = prev.pending ++ in.map(e => micros(e.event_time))
          val (sealed_, pending) = all.partition(_ < wmUs)
          val seen = scala.collection.mutable.Set[Int](prev.seen: _*)
          var cohort = prev.cohortDay
          val out = Seq.newBuilder[RetentionHit]
          if (sealed_.nonEmpty) {
            // min-fold: the watermark guarantees no earlier arrivals,
            // so once set the cohort never decreases in practice
            val minBkt = bucketDay(sealed_.min)
            if (cohort == UNSET || minBkt < cohort) cohort = minBkt
            sealed_.foreach { ts =>
              val off = offsetOf(bucketDay(ts), cohort)
              if (seen.add(off))
                out += RetentionHit(uid, java.sql.Date.valueOf(
                  java.time.LocalDate.ofEpochDay(cohort)), off)
            }
          }
          if (cohort == UNSET && pending.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(RetentionSt(cohort, seen.toSeq, pending))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(pending.min / 1000L + 1, wmMs + 1))
            else if (idleStateTtlMs > 0)
              state.setTimeoutTimestamp(wmMs + idleStateTtlMs)
          }
          out.result().iterator
          }
      }
  }

  final case class TransIn(user_id: Long, event_time: java.time.Instant,
      event_id: Long, state_val: String)
  /** One buffered event awaiting its watermark seal. */
  final case class TransEv(tsUs: Long, eventId: Long, st: String)
  /** Whether any sealed event exists, the last sealed event's state
    * value (null is legal — `lag` does not skip nulls), and the
    * unsealed buffer. */
  final case class TransSt(seen: Boolean, last: String,
      pending: Seq[TransEv])
  /** One finalized adjacent transition of a user's journey.
    * `groupBy(from_state, to_state).count` over this stream (update
    * mode) IS the live transition matrix. */
  final case class TransitionHit(user_id: Long, from_state: String,
      to_state: String, at: java.time.Instant)

  /** Streaming twin of [[graft.ops.Sequences.transitionCounts]]: per
    * user, emit each adjacent (from_state, to_state) pair exactly once,
    * as soon as the watermark seals the pair's LATER event — only then
    * is the (event_time, event_id) order around it final (the
    * [[asofEnrichStream]] sealing discipline). Pairs follow the batch
    * operator's lag conventions exactly: a user's first event emits
    * nothing, and a pair whose FROM value is null is dropped (while the
    * null still propagates as the carried predecessor).
    *
    * State per user is the last sealed value plus the unsealed buffer —
    * O(horizon) while live, one tiny row at rest. That residue grows
    * with distinct-user cardinality on an unbounded stream; set
    * `idleStateTtlMs` > 0 to reclaim users idle that long past the
    * watermark (the standard TTL trade: a user returning later than the
    * TTL is treated as first-of-key again, so the one transition
    * spanning the idle gap is not emitted). */
  def transitionHitsStream(events: DataFrame, stateCol: String,
      watermark: String = "2 hours",
      idleStateTtlMs: Long = 0L): Dataset[TransitionHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = withEventTime(events)
      .select(col("user_id"), col("event_time"), col("event_id"),
        col(stateCol).cast("string").as("state_val"))
      .filter(col("event_time").isNotNull)
      .withWatermark("event_time", watermark)
      .as[TransIn]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransSt, TransitionHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, incoming, state: GroupState[TransSt]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prev = state.getOption.getOrElse(TransSt(false, null, Nil))
          val in = incoming.toSeq
          if (state.hasTimedOut && in.isEmpty && prev.pending.isEmpty) {
            state.remove()
            Iterator.empty
          } else {
          val all = prev.pending ++ in.map(e =>
            TransEv(micros(e.event_time), e.event_id, e.state_val))
          // STRICTLY below the watermark: an event AT the watermark may
          // still gain same-time siblings that reorder the pair
          val (sealed_, pending) = all.partition(_.tsUs < wmUs)
          var seen = prev.seen
          var last = prev.last
          val out = Seq.newBuilder[TransitionHit]
          sealed_.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            if (seen && last != null)
              out += TransitionHit(uid, last, e.st, instant(e.tsUs))
            seen = true
            last = e.st
          }
          if (!seen && pending.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(TransSt(seen, last, pending))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(pending.map(_.tsUs).min / 1000L + 1, wmMs + 1))
            else if (idleStateTtlMs > 0)
              state.setTimeoutTimestamp(wmMs + idleStateTtlMs)
          }
          out.result().iterator
          }
      }
  }

  /** Batch-mode sessionization with identical semantics — the
    * oracle-checkable twin of [[sessionize]].
    *
    * Scale design: the windowed formulation (`lag` + running
    * `sum(flag)` partitioned by `user_id`) funnels each user through
    * ONE task — a bot user holding a corpus-scale share of events
    * serializes the whole job through that task's sort. This routes the
    * gap scan through [[graft.util.DistRank.perKeySessionIds]]'s HYBRID
    * dispatch instead: users above the heavy-row threshold (default 2 M
    * rows, `spark.graft.skew.heavyKeyRows`) take the range-partitioned
    * two-pass scan and spread over all partitions; the unbounded tail
    * of normal users takes a hash-partitioned single-pass fold with no
    * driver table — so user cardinality stays unbounded (the window
    * form's strength) while the bot user no longer serializes a task
    * (its weakness). Semantics (including the window form's null-time
    * arithmetic) are bit-identical — pinned by the DistRankSpec
    * window-agreement tests and the q11 oracle hash. */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val ev = withEventTime(events)
      .select(col("user_id"), col("event_time"), col("value"))
      .withColumn("__tus", unix_micros(col("event_time")))
    graft.util.DistRank
      .perKeySessionIds(ev, "user_id", "__tus", gapMs * 1000L, "session_id")
      .groupBy("user_id", "session_id")
      .agg(min("event_time").as("session_start"), max("event_time").as("session_end"),
        count(lit(1)).as("n_events"), sum("value").as("total_value"))
  }

  /** Input row for [[mergeIntervalsStream]]. */
  final case class IvIn(user_id: Long, event_time: java.time.Instant,
    lo: Long, hi: Long)
  /** Per-key state: the open (growable) island and the not-yet-sealed
    * buffer. */
  final case class IvSt(openLo: Long, openHi: Long, openN: Long,
    hasOpen: Boolean, pending: Seq[(Long, Long)])
  /** One finalized merged island. */
  final case class MergedIsland(user_id: Long, lo: Long, hi: Long,
    n_merged: Long)

  /** Streaming twin of [[graft.ops.Temporal.mergeIntervals]]: collapse
    * each key's half-open `[lo, hi)` epoch-micros intervals into
    * maximal disjoint islands over an unbounded stream, emitting each
    * island exactly once, as soon as it is FINAL.
    *
    * Sealing discipline (the [[asofEnrichStream]] family rule): rows
    * are buffered until the watermark passes their `lo` (event time =
    * `timestamp_micros(lo)`), then folded in (lo, hi) order — the
    * sealed prefix is complete, so the fold is exactly the batch
    * operator's. An island is final once `hi < watermark`: every
    * future or still-buffered row has `lo >= watermark > hi`, so
    * nothing can touch or extend it (touching needs `lo <= hi`).
    * Islands closed by a gap inside the sealed prefix satisfy this by
    * construction. State is SELF-RECLAIMING — an open island arms an
    * event-time timeout just past its own end and every pending row
    * arms one past its lo, so a quiet key's state drains without an
    * idle TTL knob. NULL-ended and empty intervals drop (the batch
    * convention); the key column must be integral (cast to long). */
  def mergeIntervalsStream(intervals: DataFrame, keyCol: String = "user_id",
      loUsCol: String = "lo", hiUsCol: String = "hi",
      watermark: String = "2 hours"): Dataset[MergedIsland] = {
    val spark = intervals.sparkSession
    import spark.implicits._
    val typed = intervals
      .filter(col(loUsCol).isNotNull && col(hiUsCol).isNotNull &&
        col(loUsCol) < col(hiUsCol))
      .select(col(keyCol).cast("long").as("user_id"),
        timestamp_micros(col(loUsCol)).as("event_time"),
        col(loUsCol).cast("long").as("lo"),
        col(hiUsCol).cast("long").as("hi"))
      .withWatermark("event_time", watermark)
      .as[IvIn]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[IvSt, MergedIsland](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, incoming, state: GroupState[IvSt]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prev = state.getOption.getOrElse(IvSt(0L, 0L, 0L,
            hasOpen = false, Nil))
          val all = prev.pending ++ incoming.map(e => (e.lo, e.hi))
          // STRICTLY below: a row AT the watermark may still gain
          // same-lo siblings whose hi reorders nothing the fold cares
          // about, but the house sealing rule stays uniform
          val (sealed_, pending) = all.partition(_._1 < wmUs)
          var (oLo, oHi, oN) = (prev.openLo, prev.openHi, prev.openN)
          var hasOpen = prev.hasOpen
          val out = Seq.newBuilder[MergedIsland]
          sealed_.sorted.foreach { case (lo, hi) =>
            if (hasOpen && lo <= oHi) {
              oHi = math.max(oHi, hi); oN += 1
            } else {
              if (hasOpen) out += MergedIsland(uid, oLo, oHi, oN)
              oLo = lo; oHi = hi; oN = 1; hasOpen = true
            }
          }
          // the open island is final once nothing can reach it —
          // buffered rows included (their lo >= wm > oHi)
          if (hasOpen && oHi < wmUs) {
            out += MergedIsland(uid, oLo, oHi, oN)
            hasOpen = false
          }
          if (!hasOpen && pending.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(IvSt(oLo, oHi, oN, hasOpen, pending))
            val wakeUs =
              (if (hasOpen) Seq(oHi) else Nil) ++ pending.map(_._1)
            state.setTimeoutTimestamp(
              math.max(wakeUs.min / 1000L + 1, wmMs + 1))
          }
          out.result().iterator
      }
  }

  /** Stream-static binned range enrichment: attach to each live event
    * every row of a STATIC interval table — a validity-windowed
    * dimension (SCD-2 record versions, incident windows, ad flights) —
    * whose half-open `[loCol, hiCol)` epoch-micros interval contains
    * the event time, under `on` equality keys.
    *
    * STATELESS by construction, which is the whole point: the interval
    * side pre-explodes to covered bins once per micro-batch plan
    * ([[graft.ops.Temporal.rangeJoin]] — this IS the batch operator
    * applied to a streaming frame), the stream side computes one bin
    * per row, and the match is a stream-static equi-join plus the
    * exact residual filter. No watermark, no state store, no
    * per-key buffering: a micro-batch costs map + join work only, and
    * the inner stream-static join is one of the stateless shapes
    * Structured Streaming supports on unbounded input. Events with
    * NULL time silently drop (inner-join semantics, matching batch). */
  def rangeEnrichStream(events: DataFrame, intervals: DataFrame,
      loCol: String, hiCol: String, on: Seq[String] = Seq("user_id"),
      binWidth: Long = 3600000000L,
      maxBinsPerInterval: Int = 4096): DataFrame = {
    val e = withEventTime(events)
      .withColumn("tus", unix_micros(col("event_time")))
    graft.ops.Temporal.rangeJoin(e, intervals, "tus", loCol, hiCol,
      binWidth, on, maxBinsPerInterval)
  }
}
