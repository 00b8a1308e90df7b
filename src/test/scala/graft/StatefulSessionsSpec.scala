package graft

import graft.streaming.{EventStreams, StatefulSessions}
import org.apache.spark.sql.functions._

/** The session fold (SURVEY.md §2.9 custom state): transition-function
  * unit tests + the parity contract that the fold reproduces
  * session_window's batch semantics (q25). The streaming run over the same
  * fold is TwsSessionsSpec's. */
class StatefulSessionsSpec extends SparkSpec {

  test("fold: gap >= 30min closes a session, state carries across calls") {
    val m = 60L * 1000 * 1000 // one minute in micros
    val (closed, open) = StatefulSessions.fold(
      Seq((0L, 1.0), (29 * m, 2.0), (58 * m, 4.0), (200 * m, 8.0)), None)
    assert(closed.map(s => (s.start, s.n, s.total)) ==
      Seq((0L, 3L, 7.0))) // first three chain (29-min gaps), 4th splits
    assert(open.map(s => (s.start, s.n, s.total)).contains((200 * m, 1L, 8.0)))
    // resuming from open state chains or splits the same way
    val (closed2, open2) = StatefulSessions.fold(Seq((229 * m, 1.0)), open)
    assert(closed2.isEmpty && open2.get.n == 2)
    val (closed3, open3) = StatefulSessions.fold(Seq((500 * m, 1.0)), open2)
    assert(closed3.map(_.n) == Seq(2L) && open3.get.start == 500 * m)
  }

  test("fold: cross-batch late event merges without regressing lastTs") {
    val m = 60L * 1000 * 1000
    val open = Some(StatefulSessions.SessionState(50 * m, 80 * m, 2, 5.0))
    val (c1, o1) = StatefulSessions.fold(Seq((100 * m, 1.0)), open)
    assert(c1.isEmpty && o1.get.lastTs == 100 * m && o1.get.n == 3)
    // a late event at 60min (watermark-admitted, earlier than lastTs) must
    // extend the session but keep the timeout anchored at the true lastTs —
    // regressing it would expire and split the session prematurely
    val (c2, o2) = StatefulSessions.fold(Seq((60 * m, 2.0)), o1)
    assert(c2.isEmpty)
    assert(o2.get.lastTs == 100 * m)
    assert(o2.get.n == 4 && o2.get.total == 8.0)
    assert(o2.get.start == 50 * m)
  }

  test("fold: a disjoint watermark-admitted late event opens its OWN earlier session") {
    val m = 60L * 1000 * 1000
    // open session [100m, 110m]; a late event at 30m is 70min before the
    // session start — session_window semantics demand TWO sessions, not a
    // phantom merged one with a regressed start
    val open = Some(StatefulSessions.SessionState(100 * m, 110 * m, 3, 6.0))
    val (closed, o) = StatefulSessions.fold(Seq((30 * m, 1.0)), open)
    assert(closed.map(s => (s.start, s.n, s.total)) == Seq((30 * m, 1L, 1.0)))
    assert(o.map(s => (s.start, s.lastTs, s.n)).contains((100 * m, 110 * m, 3L)))
    // and a bridging late event merges BOTH neighbours into one session
    val (c2, o2) = StatefulSessions.fold(
      Seq((55 * m, 1.0), (80 * m, 2.0)),
      Some(StatefulSessions.SessionState(100 * m, 110 * m, 3, 6.0)))
    assert(c2.isEmpty)
    assert(o2.map(s => (s.start, s.lastTs, s.n, s.total))
      .contains((55 * m, 110 * m, 5L, 9.0)))
  }

  test("custom fold reproduces session_window batch semantics (q25)") {
    val q25 = SparkEntry.queries("q25_session_window")(spark, sf0001)
      .select(col("user_id"), col("session_start").cast("string").as("st"),
        col("n_events"), col("total_value"))
      .collect().map(_.toSeq).toSet
    val ref = StatefulSessions.batchReference(spark,
      Tables.events(spark, sf0001), includeOpen = true)
      .select(col("user_id"), col("session_start").cast("string").as("st"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
      .collect().map(_.toSeq).toSet
    assert(ref == q25)
  }

  test("streaming dropDuplicatesWithinWatermark equals batch dedup") {
    // streaming dedup state (SURVEY.md §7): duplicate (user_id, event_type)
    // arrivals inside the watermark horizon are suppressed with bounded
    // state; on this static replay every duplicate is in-horizon, so the
    // result must match the batch distinct count per user
    val stream = EventStreams.readEvents(spark, sf0001)
      .withWatermark("ts", "31 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_types"))
    val got = EventStreams.runToMemory(spark, stream, "t_stream_dedup")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Tables.events(spark, sf0001)
      .dropDuplicates("user_id", "event_type")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_types"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    assert(want.values.forall(_ <= 5)) // at most the 5 event types each
  }
}
