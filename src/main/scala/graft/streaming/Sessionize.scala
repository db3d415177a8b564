package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming surface — SURVEY.md §2.9.
  *
  * The reference is daily-batch only; late/corrected data is handled by
  * re-download + keep-last merge. This module provides the streaming twin
  * for the same event model: gap sessionization over a keyed event stream
  * (the batch-equivalent logic is the `w12_sessionize` registered query —
  * same 30-min-gap semantics), plus a watermarked windowed aggregate for
  * continuous rollups.
  *
  * r14: migrated from `flatMapGroupsWithState` to the Spark 4
  * `transformWithState` API (the TWS+RocksDB path was proven end-to-end by
  * w34 in r13). Same semantics, modern state surface: an explicit
  * per-user `ValueState[SessionState]` plus ONE event-time timer per open
  * session (re-armed as the session extends) replaces the implicit
  * `GroupState` + `setTimeoutTimestamp` pair. Event-time gaps are a
  * WATERMARK concept, so the close timer is an event-time timer — NOT a
  * state TTL, which in TWS is wall-clock and would close sessions on
  * processing delay rather than event-time silence.
  *
  * At scale: state is partitioned by user_id (the group key), one
  * SessionState + one timer per ACTIVE user (the watermark closes and
  * evicts idle ones), and timed-out sessions are emitted exactly once.
  * `transformWithState` requires the RocksDB state-store provider —
  * callers (and the spec) set
  * `spark.sql.streaming.stateStore.providerClass` before `start()`, on a
  * session they own (`spark.newSession()`, as the streaming e2e rows do),
  * so a shared session's provider never changes under its other queries.
  */
object Sessionize {

  case class Event(user_id: Long, event_id: Long, ts: Timestamp)
  case class SessionState(start: Long, last: Long, n: Int, firstEvent: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, first_event: Long)

  val GapMs: Long = 30 * 60 * 1000L

  /** Per-user session accumulator: events within 30 min extend the open
    * session; a larger gap closes it and emits inline, and the re-armed
    * event-time timer closes it when the watermark passes last+gap with
    * no successor. Timer hygiene is local arithmetic, not a store scan:
    * the stale timer's timestamp is derivable from the prior state
    * (last + GapMs), so extending a session is deleteTimer(old) +
    * registerTimer(new) — O(1) per key per batch, no listTimers().
    */
  private[streaming] class SessionProcessor
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var cur: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    private def emit(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new Timestamp(s.start), new Timestamp(s.last),
        s.n, s.firstEvent)

    override def handleInputRows(userId: Long, it: Iterator[Event],
        tv: TimerValues): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      val prior = if (cur.exists()) Some(cur.get()) else None
      var st = prior
      it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        st match {
          case Some(s) if e.ts.getTime - s.last <= GapMs =>
            // max, not assignment: a late (out-of-order but within
            // watermark) event arriving in a later micro-batch must not
            // regress session_end below already-seen events — the batch
            // twin (w12_sessionize) orders globally by ts
            st = Some(s.copy(last = math.max(s.last, e.ts.getTime),
              n = s.n + 1))
          case Some(s) => // gap ⇒ close previous, open new
            out += emit(userId, s)
            st = Some(SessionState(e.ts.getTime, e.ts.getTime, 1, e.event_id))
          case None =>
            st = Some(SessionState(e.ts.getTime, e.ts.getTime, 1, e.event_id))
        }
      }
      st.foreach { s =>
        cur.update(s)
        if (!prior.map(_.last).contains(s.last)) {
          prior.foreach(p => getHandle.deleteTimer(p.last + GapMs))
          getHandle.registerTimer(s.last + GapMs)
        }
      }
      out.iterator
    }

    /** Watermark passed last+gap with no extending event: close + evict.
      * The staleness guard (expiry must equal the CURRENT state's close
      * time) makes a leftover timer from a superseded session a no-op
      * even if a delete were ever missed.
      */
    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (!cur.exists()) Iterator.empty
      else {
        val s = cur.get()
        if (s.last + GapMs != expired.getExpiryTimeInMs) Iterator.empty
        else { cur.clear(); Iterator.single(emit(userId, s)) }
      }
  }

  /** The streaming sessionizer (transformWithState, event-time timers). */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[SessionOut])
  }

  /** Watermarked tumbling-window rollup (the streaming face of A1/A2). */
  def windowedRollup(events: Dataset[Event]): Dataset[_] =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
}
