package graft.streaming

import graft.streaming.EventStreams.UserEvent
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}

/** Per-purchase attribution counts on transformWithState, exercising the
  * `MapState` primitive — the last of the arbitrary-state-v2 trio (q127:
  * ValueState, q145: ListState): per user, a MapState[event_type → count]
  * histogram accumulates between purchases; each purchase EMITS the
  * (n_views, n_clicks) accumulated since the previous purchase and resets
  * the histogram. Emission is event-driven (the q145 property), so the
  * bounded in-order replay emits exactly the batch windowed answer and the
  * oracle hash-compares the full attribution list.
  *
  * State design for scale: the histogram is ≤ |event_types| entries per
  * ACTIVE key — bounded, independent of stream length (counts reset at
  * each purchase); keys partition across executors in the RocksDB store.
  * The step is a pure fold ([[TwsAttribution.step]]) shared with the spec.
  */
object TwsAttribution {

  case class Attribution(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, n_views: Long, n_clicks: Long)

  /** Pure step: fold ordered events into emissions + the carried histogram. */
  def step(hist: Map[String, Long], events: Seq[UserEvent])
      : (Seq[Attribution], Map[String, Long]) = {
    val out = Seq.newBuilder[Attribution]
    var h = hist
    events.foreach { e =>
      if (e.event_type == "purchase") {
        out += Attribution(e.user_id, e.event_id, e.ts,
          h.getOrElse("view", 0L), h.getOrElse("click", 0L))
        h = Map.empty
      } else h = h.updated(e.event_type, h.getOrElse(e.event_type, 0L) + 1L)
    }
    (out.result(), h)
  }

  class AttributionProcessor
      extends StatefulProcessor[Long, UserEvent, Attribution] {
    @transient private var hist: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[String, Long]("hist",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[Attribution] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prev: Map[String, Long] = hist.iterator().toMap
      val (emitted, next) = step(prev, sorted)
      // replace the stored histogram with the carried one: removing only
      // stale keys (vs clear-all) keeps the store delta minimal
      prev.keysIterator.filterNot(next.contains).foreach(hist.removeKey)
      next.foreach { case (k, v) =>
        if (!prev.get(k).contains(v)) hist.updateValue(k, v) }
      emitted.iterator
    }
  }

  /** Streaming query: watermarked events → per-user attribution. */
  def run(spark: SparkSession, events: DataFrame): Dataset[Attribution] = {
    import spark.implicits._
    EventStreams.byUser(events).transformWithState(new AttributionProcessor,
      TimeMode.EventTime(), OutputMode.Append())
  }
}
