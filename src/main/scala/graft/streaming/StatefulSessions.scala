package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The per-user session fold the streaming sessionizer
  * ([[TwsSessions]], transformWithState) runs in each key's state, plus
  * its batch reference: `session_window` semantics (SURVEY.md §2.9) with
  * arbitrary state logic — the extension point `session_window` cannot
  * express (e.g. value-dependent gaps, per-session aggregates beyond
  * sum/count, emitting mid-session checkpoints).
  *
  * State design for scale: one small record per ACTIVE user (last-event
  * time + running aggregates), partitioned by the grouping key across
  * executors, checkpointed by the state store, and expired with an event-
  * time timer tied to the watermark — bounded state, no driver residency.
  * Closed sessions are emitted as soon as the gap elapses or the group sees
  * a later event.
  */
object StatefulSessions {

  /** `ts_us` = MICROSECONDS since epoch, the working representation —
    * java.sql.Timestamp.getTime truncates to millis, which would shift
    * sub-ms session starts vs session_window. `ts` stays only because the
    * event-time timeout requires the watermarked column to survive into the
    * stateful operator. */
  case class Event(user_id: Long, ts: java.sql.Timestamp, ts_us: Long, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  case class Session(
      user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total_value: Double)

  val GapUs: Long = 30L * 60 * 1000 * 1000

  /** Pure transition function: fold a batch of events into closed sessions
    * + the still-open tail. Exposed for direct unit testing.
    *
    * Interval-merge semantics, exactly `session_window`'s: every event (and
    * the carried-over open session) is a [start, lastTs] interval; two
    * intervals belong to one session iff the later's start is within GapUs
    * of the earlier's end, and a bridging late event merges BOTH of its
    * neighbours. A watermark-admitted late event that is disjoint from the
    * open session (t ≤ start − gap) forms its OWN earlier session instead
    * of being absorbed — the previous absorb-everything-within-gap-of-lastTs
    * shortcut emitted a phantom merged session with a regressed start
    * whenever late data preceded the open session by more than the gap.
    * lastTs never regresses (max-merge), so the event-time timeout stays
    * anchored at the true session end. */
  def fold(events: Seq[(Long, Double)], open: Option[SessionState])
      : (Seq[SessionState], Option[SessionState]) = {
    val all = (open.toVector ++
      events.map { case (t, v) => SessionState(t, t, 1, v) })
      .sortBy(s => (s.start, s.lastTs))
    val merged = all.foldLeft(Vector.empty[SessionState]) {
      case (acc, s) if acc.nonEmpty && s.start - acc.last.lastTs < GapUs =>
        val p = acc.last
        acc.init :+ SessionState(p.start, math.max(p.lastTs, s.lastTs),
          p.n + s.n, p.total + s.total)
      case (acc, s) => acc :+ s
    }
    // adjacent survivors are ≥ gap apart, so every session but the last is
    // closed by a later event (the established append-mode emission rule);
    // only the latest stays in state
    (merged.dropRight(1), merged.lastOption)
  }

  private[streaming] def emit(user: Long, s: SessionState): Session = {
    // floorDiv/floorMod: plain /-% truncate toward zero and hand setNanos a
    // negative nanos value for pre-epoch starts (IllegalArgumentException)
    val ts = new java.sql.Timestamp(Math.floorDiv(s.start, 1000000L) * 1000)
    ts.setNanos((Math.floorMod(s.start, 1000000L) * 1000).toInt)
    Session(user, ts, s.n, s.total)
  }

  /** Event-time expiry in millis, rounded UP: floor truncation would let
    * the timer fire up to 999 µs before lastTs + gap, splitting a session
    * whose next event lands inside that sliver — the sub-ms parity the
    * µs representation exists to protect. */
  private[streaming] def expiryMs(s: SessionState): Long =
    Math.floorDiv(s.lastTs + GapUs + 999, 1000)

  /** Batch reference for parity tests: the same fold applied per user to
    * the full static table. `includeOpen=true` closes every tail session at
    * end-of-input (≡ session_window batch semantics, q25);
    * `includeOpen=false` keeps only sessions closed by a later event —
    * exactly what a single-microbatch append-mode stream can emit. */
  def batchReference(spark: SparkSession, events: DataFrame,
      includeOpen: Boolean = true): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts").cast("timestamp"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (user, it) =>
        val sorted = it.toSeq.sortBy(e => (e.ts_us, e.value))
        val (closed, open) = fold(sorted.map(e => (e.ts_us, e.value)), None)
        (if (includeOpen) closed ++ open else closed).map(emit(user, _)).iterator
      }
      .toDF()
  }
}
