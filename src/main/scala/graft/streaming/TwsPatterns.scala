package graft.streaming

import graft.streaming.EventStreams.UserEvent
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}

/** CEP-lite sequence-pattern detection on transformWithState, exercising
  * the `ListState` primitive (q127/TwsSessions covers `ValueState`): per
  * user, emit a match row whenever three CONSECUTIVE events in
  * (ts, event_id) order spell view → click → purchase. Emission is
  * event-driven — a match surfaces in the micro-batch of its completing
  * event, no timers and no tail held back by the watermark — so a bounded
  * in-order replay emits EXACTLY the batch window-lag answer and the
  * driver's oracle can hash-compare the full match list (stronger than the
  * parity-boolean form the session queries need).
  *
  * State design for scale: the per-key state is the last TWO events (the
  * pattern length minus one) — constant-size, like Flink CEP's NFA state
  * for a strict-contiguity pattern; keys partition across executors and
  * live in the state store. The pattern step is a pure fold
  * ([[TwsPatterns.step]]) shared with the spec.
  */
object TwsPatterns {

  /** The last-k tail entry kept in ListState (k = 2 here). */
  case class Prev(ts_us: Long, event_id: Long, event_type: String)
  case class Match(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  val Pattern: Seq[String] = Seq("view", "click", "purchase")

  /** Pure pattern step: fold ordered events into matches + the new tail.
    * `tail` is the previous (≤ 2)-event suffix in order. */
  def step(tail: Seq[Prev], events: Seq[UserEvent])
      : (Seq[Match], Seq[Prev]) = {
    val out = Seq.newBuilder[Match]
    var t = tail.toVector
    events.foreach { e =>
      if (t.length == 2 && t(0).event_type == Pattern(0) &&
          t(1).event_type == Pattern(1) && e.event_type == Pattern(2))
        out += Match(e.user_id, e.event_id, e.ts)
      t = (t :+ Prev(e.ts_us, e.event_id, e.event_type)).takeRight(2)
    }
    (out.result(), t)
  }

  class PatternProcessor extends StatefulProcessor[Long, UserEvent, Match] {
    @transient private var tail: ListState[Prev] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tail = getHandle.getListState[Prev]("tail",
        Encoders.product[Prev], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[Match] = {
      // ORDERING INVARIANT: this sort is per-BATCH only; cross-batch
      // correctness needs batches to arrive in event order (the tail state
      // then carries the suffix across the boundary). An out-of-order
      // replay corrupts matches — q145's batch-vs-stream checksum parity
      // (Events.scala) turns that into a loud failure.
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prev = tail.get().toSeq
      val (matches, next) = step(prev, sorted)
      tail.clear()
      tail.appendList(next.toArray)
      matches.iterator
    }
  }

  /** Streaming query: watermarked events → per-user pattern matcher. */
  def run(spark: SparkSession, events: DataFrame): Dataset[Match] = {
    import spark.implicits._
    EventStreams.byUser(events).transformWithState(new PatternProcessor,
      TimeMode.EventTime(), OutputMode.Append())
  }
}
