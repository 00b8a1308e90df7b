package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

import StatefulSessions.{Event, GapUs, Session, SessionState}

/** The streaming sessionizer over [[StatefulSessions.fold]], on Spark 4's
  * transformWithState (arbitrary-state v2): typed `ValueState` handles,
  * explicit event-time timers, and a state store that must be
  * RocksDB-backed (`spark.sql.streaming.stateStore.providerClass`). The
  * session-transition logic is the pure `fold`, which is what keeps the
  * stream, its batch reference and `session_window` (q25) provably in
  * agreement (StatefulSessionsSpec, TwsSessionsSpec).
  *
  * Scale: one small record per active key, partitioned by key,
  * checkpoint-persisted; timers are likewise per-key state-store
  * entries. */
object TwsSessions {

  class SessionProcessor extends StatefulProcessor[Long, Event, Session] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    // ceil-rounded shared expiry (StatefulSessions.expiryMs): a floor here
    // fires up to 999 µs early and splits sub-ms-separated sessions
    private def expiryMs(s: SessionState): Long = StatefulSessions.expiryMs(s)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.value))
      val open0 = if (state.exists()) Some(state.get()) else None
      val (closed, open) =
        StatefulSessions.fold(sorted.map(e => (e.ts_us, e.value)), open0)
      open match {
        case Some(s) =>
          // exactly ONE live timer per key: deregister the superseded
          // expiry before arming the new one — leaving stale timers in the
          // state store accumulates an entry (plus a no-op
          // handleExpiredTimer call) per session extension
          val expiry = expiryMs(s)
          open0.map(expiryMs).filter(_ != expiry)
            .foreach(getHandle.deleteTimer)
          state.update(s)
          getHandle.registerTimer(expiry)
        case None =>
          open0.map(expiryMs).foreach(getHandle.deleteTimer)
          state.clear()
      }
      closed.iterator.map(StatefulSessions.emit(user, _))
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      // only the CURRENT session's timer may close it — a timer registered
      // before a session was extended has an earlier expiry than the live
      // lastTs+gap and must be a no-op
      if (state.exists() && expiryMs(state.get()) <= info.getExpiryTimeInMs) {
        val out = Iterator.single(StatefulSessions.emit(user, state.get()))
        state.clear()
        out
      } else Iterator.empty
    }
  }

  /** Streaming query: watermarked events → transformWithState sessionizer.
    * Append mode; sessions surface when closed by a later event or when
    * their event-time timer passes the watermark. */
  def run(spark: SparkSession, events: DataFrame): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
