package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Event-stream analytics over the `events` table (FIXTURES.md §B): JSON
  * property extraction and event-time windowing — tumbling, sliding and
  * session windows expressed with the exact Structured-Streaming expressions
  * (`window()`, `session_window()`), verified here in batch mode per
  * SURVEY.md §2.9 (the same expressions run unchanged under readStream; see
  * graft.streaming.EventStreams).
  *
  * Scale notes: all window aggregations shuffle once on the (window, key)
  * grouping; session windows shuffle on user_id then sort within partitions —
  * exactly the plan a 1000-executor run wants. The ns→µs timestamp
  * normalization lives in Tables.events.
  */
object Events {

  /** q83's compaction aggregate: newest record per (user_id, event_type),
    * ties on ts broken by event_id. Exposed so EventsSpec drives the SAME
    * code the query registers (not a re-implementation). */
  def latestByKey(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val latest = struct(col("ts"), col("event_id"))
    events.groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(col("event_id"), latest).as("last_event_id"),
        max(col("ts")).as("last_ts"),
        round(max_by(col("value"), latest), 2).as("last_value"),
        count(lit(1)).as("n_versions"))
  }

  /** q86's per-user funnel flags: one (user_id, ts) sort, four layered
    * prefix windows — a stage-k event qualifies iff a stage-(k-1) qualifier
    * exists strictly earlier. Returns one row per user with int flags
    * (sig, vw, ck, by). Shared with EventsSpec. */
  def funnelFlags(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // RANGE frame over event-time micros: the prefix sees STRICTLY earlier
    // events only, matching the oracle's `e.ts > s.ts` exactly — a ROWS
    // frame ordered by ts alone made equal-ts visibility depend on the
    // partition layout (nondeterministic, and wrong whichever way it fell).
    // unix_micros wants TIMESTAMP; the NTZ→LTZ cast only has to preserve
    // order and equality, which any fixed zone does (the session is UTC).
    val prefix = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts").cast("timestamp")))
      .rangeBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("sig_ok", (col("event_type") === "signup").cast("int"))
      .withColumn("view_ok",
        (col("event_type") === "view" &&
          coalesce(max(col("sig_ok")).over(prefix), lit(0)) === 1).cast("int"))
      .withColumn("click_ok",
        (col("event_type") === "click" &&
          coalesce(max(col("view_ok")).over(prefix), lit(0)) === 1).cast("int"))
      .withColumn("buy_ok",
        (col("event_type") === "purchase" &&
          coalesce(max(col("click_ok")).over(prefix), lit(0)) === 1).cast("int"))
      .groupBy(col("user_id"))
      .agg(max(col("sig_ok")).as("sig"), max(col("view_ok")).as("vw"),
        max(col("click_ok")).as("ck"), max(col("buy_ok")).as("by"))
  }

  /** q93's cohort triangle: (cohort_day, week_n, n_users) where week_n is
    * the floor-div-7 day offset from each user's own first event. Shared
    * with EventsSpec. */
  def retentionCohorts(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val firsts = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    events.join(firsts, "user_id")
      .groupBy(col("cohort_day"),
        floor(datediff(to_date(col("ts")), col("cohort_day")) / 7)
          .cast("int").as("week_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** q94's transition matrix: adjacent event-type bigram counts over each
    * user's (ts, event_id)-ordered stream. Shared with EventsSpec. */
  def transitionMatrix(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** The 30-minute session aggregate shared by q25 (DuckDB-verified) and
    * q76 (the streaming parity baseline) — one def, so the stream is always
    * diffed against exactly the oracle-checked batch shape. Unordered;
    * display edges order for themselves. */
  def sessionAgg(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  val queries: Seq[Q] = Seq(

    // JSON-in-string property extraction (events.props, SURVEY.md §2.7).
    Q("q22_json_extract",
      """SELECT event_type, count(*) AS n,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
        |       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("k")), 4).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // Tumbling event-time window (1 day). Spark's window() is epoch-aligned,
    // which for whole days equals date_trunc in a UTC/NTZ world.
    Q("q23_tumbling_window",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS total_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("window.start").as("day_start"), col("n_events"),
          col("total_value"), col("n_users"))
        .orderBy(col("day_start"))
    },

    // Sliding window (1 day width, 6 h slide): each event lands in 4 windows.
    // Oracle replays the same epoch-aligned window generation via a k∈0..3
    // cross join on the 6-hour slot floor.
    Q("q24_sliding_window",
      """WITH e AS (
        |  SELECT date_trunc('hour', ts)
        |           - (CAST(EXTRACT(hour FROM ts) AS INT) % 6) * INTERVAL 1 HOUR AS slot,
        |         value
        |  FROM events)
        |SELECT CAST(slot - k * INTERVAL 6 HOUR AS TIMESTAMP) AS win_start,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day", "6 hours"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").as("win_start"), col("n_events"), col("total_value"))
        .orderBy(col("win_start"))
    },

    // As-of join: each 'purchase' gets the most recent preceding 'view' of
    // the same user. Spark has no ASOF JOIN operator; the Spark-first
    // composition (SURVEY.md custom-operator preference (a)) is a tagged
    // union + last_value window over (user, time) — ONE shuffle on user_id,
    // no join at all, versus a range join's quadratic candidate blowup.
    // DuckDB oracle uses its native ASOF JOIN. Ties (equal ts): the view
    // with the larger event_id wins, matching ASOF's <= bound plus a
    // deterministic tie-break on event_id.
    Q("q50_asof_join",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        |       v.event_id AS view_id,
        |       round(v.value, 2) AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM (
        |       SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |                 ORDER BY event_id DESC) AS rn
        |       FROM events WHERE event_type = 'view') WHERE rn = 1) v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_view").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev
        .withColumn("is_view", (col("event_type") === "view").cast("int"))
        .withColumn("view_id",
          last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true)
            .over(w))
        .withColumn("view_value",
          last(when(col("event_type") === "view", col("value")), ignoreNulls = true)
            .over(w))
        // a view at the same ts as the purchase is admissible (ASOF <=):
        // include current-row-at-equal-ts views by ordering views first at
        // equal ts and extending the frame to the previous row only — views
        // at the exact purchase ts sort before the purchase (is_view col)
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"),
          col("view_id"), round(col("view_value"), 2).as("view_value"))
        .orderBy("purchase_id")
    },

    // Session window (30 min gap) per user. Spark semantics: a new session
    // starts when the gap to the previous event is >= the timeout; session
    // start = first event ts. Oracle: gaps-and-islands with the same >= gap.
    Q("q25_session_window",
      """WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      sessionAgg(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Log compaction / CDC latest-record-wins: keep only the newest record
    // per (user, event_type) key from an append-only log — the canonical
    // pre-training snapshot pass over change streams. Scale shape: max_by
    // over a (ts, event_id) struct runs as a partial+final hash aggregate,
    // so each map task shrinks its partition to its distinct keys BEFORE the
    // shuffle; the window row_number()=1 formulation the oracle uses (an
    // independent algorithm) must instead shuffle and sort every raw row.
    // event_id breaks ts ties deterministically (unique per event).
    Q("q83_latest_by_key",
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
        |  FROM events)
        |SELECT user_id, event_type, event_id AS last_event_id,
        |       CAST(ts AS TIMESTAMP) AS last_ts, round(value, 2) AS last_value,
        |       n_versions
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      latestByKey(Tables.events(s, d))
        .orderBy(col("user_id"), col("event_type"))
    },

    // Ordered conversion funnel signup → view → click → purchase, each stage
    // strictly after the previous one in event time. All four stage flags
    // are layered window expressions over ONE (user_id, ts) sort: a stage-k
    // event qualifies iff a stage-(k-1) qualifier exists in the strict
    // prefix (ROWS … -1; (user_id, ts) is unique in this corpus, so prefix
    // membership ⟺ strictly-earlier ts). One shuffle + one sort for the
    // whole funnel — vs the oracle's independent 4-level join chain, which
    // re-joins events per stage. Per-user flags then collapse in a single
    // global aggregate.
    Q("q86_funnel",
      """WITH s AS (SELECT user_id, min(ts) AS t FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        |v AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |      JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'view' AND e.ts > s.t GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
        |SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
        |       (SELECT count(*) FROM s) AS n_signup,
        |       (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_click,
        |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin) { (s, d) =>
      funnelFlags(Tables.events(s, d))
        .agg(count(lit(1)).as("n_users"),
          sum(col("sig")).cast("bigint").as("n_signup"),
          sum(col("vw")).cast("bigint").as("n_view"),
          sum(col("ck")).cast("bigint").as("n_click"),
          sum(col("by")).cast("bigint").as("n_purchase"))
    },

    // Retention COHORT analysis: users grouped by first-seen day, activity
    // counted per week-offset — the engagement triangle every product
    // analytics pipeline emits. Shape: one partial+final min-aggregate to
    // user cardinality, a user_id equi join back (both sides hash-partition
    // on user_id; the firsts side is already reduced, so the join input is
    // |users| + |events|, never events²), then one countDistinct aggregate
    // on the (cohort, week) cell grid. Week offset is day-difference
    // floor-div 7 from each user's own first day — calendar-agnostic, so
    // no week-truncation semantics can drift between engines.
    Q("q93_retention_cohorts",
      """WITH f AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_day,
        |       CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
        |                  / 7.0) AS INT) AS week_n,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      retentionCohorts(Tables.events(s, d))
        .orderBy(col("cohort_day"), col("week_n"))
    },

    // Sessionized PATH analysis: the event-type transition matrix (Markov
    // bigram counts) over each user's time-ordered stream. ONE shuffle +
    // sort on user_id produces every per-user adjacent pair via lead();
    // the transition matrix itself is |event_types|² rows — a hash
    // aggregate whose output is tiny at any corpus size. Ties on ts break
    // by event_id (unique), so the sequence — and therefore every
    // transition count — is fully deterministic.
    Q("q94_event_transitions",
      """WITH x AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM x WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      transitionMatrix(Tables.events(s, d))
        .orderBy(col("event_type"), col("next_type"))
    },

    // Driver-checked STREAMING entry: the same per-user session aggregation
    // runs through the real Structured Streaming path — file-stream source,
    // 1-hour watermark, session_window state, memory sink, run to
    // completion — and is compared row-for-row against the batch plan
    // in-engine (two anti-joins must both be empty). The oracle recomputes
    // the batch session count via the q25 gaps-and-islands CTE, so a
    // streaming divergence flips parity_ok AND any batch bug breaks
    // n_sessions: both sides of the parity are pinned. At scale this is the
    // standard streaming-correctness harness: replay a bounded slice,
    // diff against the batch plan.
    Q("q76_stream_sessions",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT count(*) AS n_sessions, CAST(1 AS BOOLEAN) AS parity_ok
        |FROM (SELECT DISTINCT user_id, sid FROM s)""".stripMargin) { (s, d) =>
      // parity keys are the DISCRETE session identity (user, start, count);
      // the double-valued sum is compared with a cent tolerance instead of
      // joined on — batch hash aggregation and streaming state fold the
      // same doubles in different orders, and rounded-double equality
      // across the two paths is exactly the flakiness a parity harness
      // must not have. Both sides are materialized once for their two
      // consumers (anti-join + value check / count).
      val keys = Seq("user_id", "session_start", "n_events")
      // the SAME aggregate q25 verifies against DuckDB — a shared def, so
      // the parity baseline cannot drift from the oracle-checked query
      // ckpt(a): count + both anti-joins; lazy plan rescans events
      val batch = sessionAgg(Tables.events(s, d)).eagerCkpt
      val stream = graft.streaming.EventStreams.runToMemory(s,
        graft.streaming.EventStreams.sessions(
          graft.streaming.EventStreams.readEvents(s, d)), "q76_sessions",
        shufflePartitions = Some(8))
        .select(col("user_id"), col("session_start"), col("n_events"),
          col("total_value").as("stream_value"))
        // ckpt(a): q76 count + both anti-joins; slower lazy at sf0.1
        .eagerCkpt
      batch.agg(count(lit(1)).as("n_sessions"))
        .crossJoin(stream.join(batch, keys, "left_anti")
          .agg(count(lit(1)).as("n_extra")))
        .crossJoin(batch.join(stream, keys, "left_anti")
          .agg(count(lit(1)).as("n_missing")))
        .crossJoin(batch.join(stream, keys)
          .agg(coalesce(max(abs(col("total_value") - col("stream_value"))),
            lit(0.0)).as("max_value_diff")))
        .select(col("n_sessions"),
          (col("n_extra") === 0 && col("n_missing") === 0 &&
            col("max_value_diff") <= 0.011).as("parity_ok"))
    },

    // Streaming ingest dedup — the at-least-once→exactly-once repair every
    // streaming corpus pipeline needs: two replays of the events feed are
    // unioned (every event arrives twice) and
    // dropDuplicatesWithinWatermark(event_id) must emit each exactly once.
    // State is bounded by the watermark horizon (keys older than the
    // watermark are evicted — the property that makes streaming dedup
    // viable at 100 TB, where an unbounded seen-set would OOM); parity is
    // checked in-engine against the batch distinct: same count, no id seen
    // twice, and the duplicated input really was 2× the table. The oracle
    // recomputes the batch distinct straight from parquet.
    Q("q106_stream_dedup",
      """SELECT count(DISTINCT event_id) AS n_unique,
        |       CAST(1 AS BOOLEAN) AS dedup_ok
        |FROM events""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val doubled = EventStreams.readEvents(s, d)
        .unionByName(EventStreams.readEvents(s, d))
      val feed = doubled
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      // O(1)-driver parity fold (round-9 fix — the old memory sink held
      // the full deduped row stream driver-side): the emitted ids'
      // multiset fingerprint, reduced executor-side per micro-batch.
      // Equal to the table's fingerprint with count==|distinct| pins the
      // emitted MULTISET to the batch-distinct id set — subsuming the old
      // countDistinct check, which would not compose across micro-batches
      // anyway.
      val st = EventStreams.runFolded(s, feed.select(col("event_id")),
        EventStreams.fingerprint(col("event_id")), shufflePartitions = Some(8))
      // the dedup passing is only evidence if duplicates actually flowed:
      // count the PRE-dedup stream too (a glob/source regression that fed
      // each event once would otherwise green-light an unexercised path)
      val nFeed = EventStreams.runFolded(s, doubled.select(col("event_id")),
        Seq(count(lit(1))), shufflePartitions = Some(8)).head
      Tables.events(s, d).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_unique"),
          // the stream's count is also n_unique below, so the table's ids
          // are distinct and the stream emitted exactly that id set
          EventStreams.sameFingerprint(st, col("event_id")).as("same"))
        .select(col("n_unique"),
          (col("same") && lit(st(0)) === col("n_unique") &&
            lit(nFeed) === col("n_rows") * 2).as("dedup_ok"))
    },

    // Slowly-changing-dimension (type 2) history build — the standard
    // warehouse op that turns an append-only attribute feed into validity
    // intervals: consecutive runs of the same attribute value collapse to
    // one version row [valid_from, valid_to), open-ended (null valid_to +
    // is_current) on the latest run. Pure windowed plan: one shuffle on the
    // entity key serves both the change-flag lag and the running version
    // number, then the per-version aggregate and the valid_to lead reuse
    // the same partitioning — at 100 TB this is a single exchange by
    // user_id end to end. Bounded to a user slice so the dump stays
    // review-sized at every SF; the interval logic is per-user and
    // slice-invariant. Null-safe change test (<=>): a null attribute run
    // still versions correctly on both engines (IS DISTINCT FROM).
    Q("q110_scd2",
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id < 50),
        |x AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ver
        |  FROM x),
        |v AS (
        |  SELECT user_id, ver, event_type, min(ts) AS valid_from,
        |         count(*) AS n_events
        |  FROM g GROUP BY user_id, ver, event_type)
        |SELECT user_id, ver, event_type, valid_from,
        |       lead(valid_from) OVER pv AS valid_to,
        |       (lead(valid_from) OVER pv IS NULL) AS is_current,
        |       n_events
        |FROM v WINDOW pv AS (PARTITION BY user_id ORDER BY ver)
        |ORDER BY user_id, ver""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pv = Window.partitionBy("user_id").orderBy("ver")
      Tables.events(s, d)
        .filter(col("user_id") < 50)
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("chg",
          (!(lag(col("event_type"), 1).over(w) <=> col("event_type"))).cast("int"))
        .withColumn("ver", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("ver"), col("event_type"))
        .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(pv))
        .select(col("user_id"), col("ver"), col("event_type"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"), col("n_events"))
        .orderBy(col("user_id"), col("ver"))
    },

    // Stream-stream join — the one Structured Streaming join shape, run on
    // the REAL streaming path (two watermarked file streams, event-time
    // range condition, append-mode memory sink) and parity-checked against
    // the identical join compiled as a batch range join. The oracle
    // recomputes the attribution counts straight from parquet, so both the
    // streamed and the batch side are pinned: a streaming divergence flips
    // parity_ok, a batch bug breaks the counts. See
    // EventStreams.attribution for why the time bound is what keeps join
    // state finite at 100 TB.
    Q("q114_stream_join",
      """SELECT count(*) AS n_attributed,
        |       count(DISTINCT v.user_id) AS n_users,
        |       CAST(1 AS BOOLEAN) AS parity_ok
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      // 8 state partitions, not the session's 32: a stream-stream join
      // holds FOUR state stores per partition, so width-32 means 128 store
      // inits + checkpoint files per micro-batch for a bounded replay —
      // pure fixed cost (the data is a few MB). See EventStreams.run's
      // width note: state width should track key cardinality, not core
      // count.
      // O(1)-driver parity fold (round-9 fix — the old memory sink held
      // the full joined row stream driver-side): emitted count plus an
      // order-independent sum-of-hash checksum over the FULL join output
      // tuple, reduced executor-side per micro-batch. Equal count +
      // checksum pins the streamed multiset to the batch join's — a
      // STRONGER check than the old count/countDistinct pair, and one
      // that composes across micro-batches.
      val rowChk = sum(pmod(xxhash64(col("v_user"), col("v_ts"),
        col("p_user"), col("p_ts"), col("p_value")), lit(1L << 31)))
        .cast("long")
      val st = EventStreams.runFolded(s,
        EventStreams.attribution(
          EventStreams.readEvents(s, d), EventStreams.readEvents(s, d)),
        Seq(count(lit(1)), rowChk), shufflePartitions = Some(4))
      val batch = EventStreams.attribution(
        Tables.events(s, d), Tables.events(s, d))
      batch.agg(count(lit(1)).as("n_attributed"),
          countDistinct(col("v_user")).as("n_users"),
          rowChk.as("b_chk"))
        .select(col("n_attributed"), col("n_users"),
          (lit(st(0)) === col("n_attributed") &&
            lit(st(1)) === col("b_chk")).as("parity_ok"))
    },

    // Time-series resample + gap fill — the missing-bucket repair every
    // metric pipeline needs before charting/forecasting: aggregate to a
    // fixed grain, generate each entity's dense time spine (sequence +
    // explode: map-side fan-out, no driver loop), left-join the observed
    // buckets, and carry the last observation forward over the gaps
    // (LOCF via an ignore-nulls last() window). Scale shape: the spine is
    // |entities| x |buckets| rows of two columns; the join and the fill
    // window share one (user, bucket-ordered) partitioning, and raw events
    // reduce to per-bucket rows BEFORE any spine work. Entity-sliced so
    // the dump stays bounded at every SF; ~90% of hourly buckets are
    // genuinely gap-filled on this corpus.
    Q("q124_gap_fill",
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |         round(sum(value), 2) AS v
        |  FROM events WHERE user_id < 3 GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bucket) mn, max(bucket) mx
        |           FROM b GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        |  FROM bounds),
        |j AS (
        |  SELECT s.user_id, b.v,
        |         last_value(b.v IGNORE NULLS) OVER (
        |           PARTITION BY s.user_id ORDER BY s.bucket
        |           ROWS UNBOUNDED PRECEDING) AS filled
        |  FROM spine s
        |  LEFT JOIN b ON s.user_id = b.user_id AND s.bucket = b.bucket)
        |SELECT user_id, count(*) AS n_buckets,
        |       CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_observed,
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_filled,
        |       round(sum(filled), 2) AS series_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.events(s, d)
        .filter(col("user_id") < 3)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(round(sum(col("value")), 2).as("v"))
      val spine = b.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"),
            expr("INTERVAL 1 HOUR"))).as("bucket"))
      val w = Window.partitionBy("user_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(b, Seq("user_id", "bucket"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("v").isNotNull.cast("int")).cast("long").as("n_observed"),
          sum(col("v").isNull.cast("int")).cast("long").as("n_filled"),
          round(sum(col("filled")), 2).as("series_sum"))
        .orderBy(col("user_id"))
    },

    // transformWithState sessionizer (Spark 4's arbitrary-state v2 API, the
    // third streaming path next to session_window/q76 and
    // flatMapGroupsWithState) run driver-checked end to end: RocksDB-backed
    // state store (the API requires it), per-key ValueState + event-time
    // timers, append mode. Append-mode emission on a bounded replay is
    // sessions closed by a later event PLUS tails whose timer passed the
    // final watermark (max ts − 1 h), so exact parity is checked as a
    // sandwich against the shared pure fold's two batch references:
    // closed-by-event ⊆ emitted ⊆ all, timer-expired tails really emitted
    // (n > n_closed), and per-session values equal on the joined keys (same
    // fold, same per-user order → bit-equal; the 0.011 band only guards
    // double formatting at the edge). The oracle recomputes the full batch
    // session count via the q25 gaps-and-islands CTE, so the batch anchor
    // and the streamed path are both pinned — a divergence in either flips
    // n_sessions or tws_ok.
    Q("q127_tws_sessions",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT count(*) AS n_sessions, CAST(1 AS BOOLEAN) AS tws_ok
        |FROM (SELECT DISTINCT user_id, sid FROM s)""".stripMargin) { (s, d) =>
      import graft.streaming.{EventStreams, StatefulSessions, TwsSessions}
      val emitted = EventStreams.runToMemory(s,
        TwsSessions.run(s, EventStreams.readEvents(s, d)).toDF(),
        "q127_tws", outputMode = "append", shufflePartitions = Some(8))
      val stream = emitted
        .select(col("user_id"), col("session_start"), col("n_events"),
          col("total_value").as("stream_value"))
        // ckpt(a): q127 three anti-join checks; slower lazy at sf0.1
        .eagerCkpt
      val keys = Seq("user_id", "session_start", "n_events")
      val ev = Tables.events(s, d)
      val all = StatefulSessions.batchReference(s, ev, includeOpen = true)
        // ckpt(a): q127 count + anti-joins; slower lazy at sf0.1
        .eagerCkpt
      val closed = StatefulSessions.batchReference(s, ev, includeOpen = false)
      all.agg(count(lit(1)).as("n_sessions"))
        .crossJoin(closed.join(stream, keys, "left_anti")
          .agg(count(lit(1)).as("n_missing_closed")))
        .crossJoin(stream.join(all, keys, "left_anti")
          .agg(count(lit(1)).as("n_phantom")))
        .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
        .crossJoin(stream.agg(count(lit(1)).as("n_emitted")))
        .crossJoin(stream.join(all, keys)
          .agg(coalesce(max(abs(col("total_value") - col("stream_value"))),
            lit(0.0)).as("max_value_diff")))
        .select(col("n_sessions"),
          (col("n_missing_closed") === 0 && col("n_phantom") === 0 &&
            col("n_emitted") > col("n_closed") &&
            col("max_value_diff") <= 0.011).as("tws_ok"))
    },

    // CEP-lite strict-contiguity pattern matching on the REAL streaming
    // path (transformWithState + ListState; q127 covers ValueState): per
    // user, every view → click → purchase run of three CONSECUTIVE events
    // in (ts, event_id) order. Emission is event-driven — each match
    // surfaces in its completing event's micro-batch, no timers, nothing
    // held back by the watermark — so an in-order replay emits EXACTLY the
    // batch window-lag answer. Oracle shape (round 10): the RETURNED full
    // match list is the batch window-lag computation (hash-compared row
    // for row by DuckDB), and the streamed run is pinned to the SAME
    // multiset through the O(1) runFolded harness — match count + an
    // order-independent sum-of-hash checksum over (user_id, event_id, ts)
    // must equal the batch side's, asserted loudly. This replaced the
    // row-level memory sink that held the whole streamed match list
    // driver-resident (the last such sink on the board): the checksum
    // carries identical parity strength — any single differing/missing/
    // phantom match flips it — at constant driver state, and it also
    // subsumes the old requireSingleBatch guard (an out-of-order
    // multi-file replay would corrupt the matches and fail the checksum
    // loudly instead of silently). State per key is the last
    // pattern_len−1 = 2 events — constant, Flink-CEP-NFA-like.
    Q("q145_stream_pattern",
      """SELECT user_id, event_id, ts
        |FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |         lag(event_type, 2) OVER w AS p2,
        |         lag(event_type, 1) OVER w AS p1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE p2 = 'view' AND p1 = 'click' AND event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      import graft.streaming.{EventStreams, TwsPatterns}
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val batch = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("p2", lag(col("event_type"), 2).over(w))
        .withColumn("p1", lag(col("event_type"), 1).over(w))
        .filter(col("p2") === "view" && col("p1") === "click" &&
          col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"))
        // ckpt(a): the result + the checksum; lazy plan rescans events
        .eagerCkpt
      val chkCols = Seq(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")))
      val st = EventStreams.runFolded(s,
        TwsPatterns.run(s, EventStreams.readEvents(s, d)).toDF(),
        EventStreams.fingerprint(chkCols: _*), shufflePartitions = Some(8))
      require(batch.agg(EventStreams.sameFingerprint(st, chkCols: _*))
          .head().getBoolean(0),
        s"q145 stream/batch divergence: streamed fingerprint $st — the" +
          " transformWithState pattern matcher and the window-lag" +
          " reference disagree")
      batch.orderBy("user_id", "event_id")
    },

    // Per-purchase attribution on the REAL streaming path — MapState, the
    // last of the arbitrary-state-v2 primitives (q127 ValueState, q145
    // ListState): a per-user event-type histogram accumulates between
    // purchases; each purchase emits the views/clicks it attributes and
    // resets the map, so state stays ≤ |event_types| entries per key no
    // matter the stream length. Event-driven emission again ⇒ the replay
    // equals the batch windowed answer; same round-10 oracle shape as
    // q145 — the batch full list is returned (DuckDB hash oracle), the
    // streamed run folds to count + order-independent checksum over the
    // full (id, ts, n_views, n_clicks) row and must match the batch
    // side's, loudly. Batch form: the prior-purchase running count
    // partitions each user's timeline into inter-purchase groups;
    // group-level conditional counts then join back to the purchase rows —
    // one user_id exchange serves the window and the group aggregate.
    Q("q146_stream_attribution",
      """WITH g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
        |                            THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS grp
        |  FROM events),
        |a AS (
        |  SELECT user_id, grp,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_views,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_clicks
        |  FROM g GROUP BY 1, 2)
        |SELECT g.user_id, g.event_id, g.ts, a.n_views, a.n_clicks
        |FROM g JOIN a USING (user_id, grp)
        |WHERE g.event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      import graft.streaming.{EventStreams, TwsAttribution}
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val g = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("grp", coalesce(
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .cast("long"), lit(0L)))
      val a = g.groupBy("user_id", "grp").agg(
        sum(when(col("event_type") === "view", 1).otherwise(0))
          .cast("long").as("n_views"),
        sum(when(col("event_type") === "click", 1).otherwise(0))
          .cast("long").as("n_clicks"))
      val batch = g.filter(col("event_type") === "purchase")
        .join(a, Seq("user_id", "grp"))
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("n_views"), col("n_clicks"))
        // ckpt(a): the result + the checksum; lazy plan rescans events
        .eagerCkpt
      val chkCols = Seq(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")),
        col("n_views"), col("n_clicks"))
      val st = EventStreams.runFolded(s,
        TwsAttribution.run(s, EventStreams.readEvents(s, d)).toDF(),
        EventStreams.fingerprint(chkCols: _*), shufflePartitions = Some(8))
      require(batch.agg(EventStreams.sameFingerprint(st, chkCols: _*))
          .head().getBoolean(0),
        s"q146 stream/batch divergence: streamed fingerprint $st — the" +
          " transformWithState attribution and the windowed-group" +
          " reference disagree")
      batch.orderBy("user_id", "event_id")
    },

    // Population stability index between the first and second half of the
    // event stream — the standard data-drift gate a production pipeline
    // runs before retraining or admitting a new batch. Fixed-width value
    // bins (20 × 25.0, top bin open) with Laplace smoothing (+0.5 per
    // bin, +10 per total) so empty bins contribute finitely; the dense
    // 0..19 spine is generated, not observed, so both engines always emit
    // all 20 rows. Scale shape: ONE scan with a conditional (CASE) partial
    // aggregate per bin — 20 groups regardless of row count — then spine
    // join, window sums, and PSI arithmetic all on the 20-row frame.
    // Cross-engine float safety: bin counts and totals are integers; p/q
    // are single divisions of identical operands; only the 20-term PSI sum
    // is order-sensitive and it is emitted rounded.
    Q("q134_psi_drift",
      """WITH b AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS bin),
        |c AS (
        |  SELECT CAST(least(floor(value / 25), 19) AS INT) AS bin,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT b.bin, coalesce(c.n_ref, 0) AS n_ref,
        |         coalesce(c.n_cur, 0) AS n_cur
        |  FROM b LEFT JOIN c USING (bin)),
        |t AS (
        |  SELECT bin, n_ref, n_cur,
        |         (n_ref + 0.5) / (sum(n_ref) OVER () + 10.0) AS p,
        |         (n_cur + 0.5) / (sum(n_cur) OVER () + 10.0) AS q
        |  FROM j)
        |SELECT bin, n_ref, n_cur,
        |       round((p - q) * ln(p / q), 6) AS contrib,
        |       round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi
        |FROM t ORDER BY bin""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      val c = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy(least(floor(col("value") / 25), lit(19)).cast("int").as("bin"))
        .agg(
          sum(when(col("ts") < split, 1).otherwise(0)).as("n_ref"),
          sum(when(col("ts") >= split, 1).otherwise(0)).as("n_cur"))
      val spine = s.range(0, 20).select(col("id").cast("int").as("bin"))
      val j = spine.join(c, Seq("bin"), "left")
        .select(col("bin"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      // the spine is 20 rows — the unpartitioned windows below never see
      // more than that, so the SinglePartition exchange moves 20 rows
      val w = Window.partitionBy()
      val p = (col("n_ref") + 0.5) / (sum(col("n_ref")).over(w) + 10.0)
      val q = (col("n_cur") + 0.5) / (sum(col("n_cur")).over(w) + 10.0)
      val contrib = (p - q) * log(p / q)
      j.withColumn("contrib_raw", contrib)
        .withColumn("psi", round(sum(col("contrib_raw")).over(w), 6))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("contrib_raw"), 6).as("contrib"), col("psi"))
        .orderBy("bin")
    },

    // A/B experiment readout — Welch's t-test on purchase value between
    // two variants split by a deterministic id-parity assignment
    // (engine-portable; the md5-threshold splits of q68/q103 are the
    // production-grade alternative when ids are not uniform). The classic
    // two-proportion z-test degenerates on this corpus (every user fires
    // every event type, pooled p(1−p) = 0), so the tested metric is the
    // continuous one a revenue experiment actually reads. ONE scan
    // reduces to per-variant exact-cents moment sums (n, Σx, Σx²) — the
    // t statistic's float chain then runs on those exact integers with
    // identical operand grouping on both engines, rounded at emission.
    Q("q163_ab_test",
      """WITH p AS (
        |  SELECT CAST(user_id % 2 AS INT) AS v,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT v, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
        |         sum(CAST(cents AS HUGEINT) * cents) AS s2
        |  FROM p GROUP BY 1),
        |w AS (
        |  SELECT
        |    max(CASE WHEN v = 0 THEN n END) AS n_a,
        |    max(CASE WHEN v = 0 THEN s END) AS sum_a_cents,
        |    max(CASE WHEN v = 0 THEN s2 END) AS s2_a,
        |    max(CASE WHEN v = 1 THEN n END) AS n_b,
        |    max(CASE WHEN v = 1 THEN s END) AS sum_b_cents,
        |    max(CASE WHEN v = 1 THEN s2 END) AS s2_b
        |  FROM g),
        |t AS (
        |  SELECT n_a, sum_a_cents, n_b, sum_b_cents,
        |    (CAST(s2_a AS DOUBLE) -
        |     (CAST(sum_a_cents AS DOUBLE) * sum_a_cents) / n_a) / (n_a - 1)
        |      AS var_a,
        |    (CAST(s2_b AS DOUBLE) -
        |     (CAST(sum_b_cents AS DOUBLE) * sum_b_cents) / n_b) / (n_b - 1)
        |      AS var_b
        |  FROM w)
        |SELECT n_a, sum_a_cents, n_b, sum_b_cents,
        |  round(CAST(sum_b_cents AS DOUBLE) / n_b -
        |        CAST(sum_a_cents AS DOUBLE) / n_a, 6) AS mean_diff_cents,
        |  round((CAST(sum_b_cents AS DOUBLE) / n_b -
        |         CAST(sum_a_cents AS DOUBLE) / n_a) /
        |        sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat
        |FROM t""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).cast("int").as("v"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val g = p.groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("s"),
          // Σcents² over HALF the purchase corpus grows linearly with SF
          // (~1e17 at sf1) — DECIMAL(38,0) / HUGEINT removes the BIGINT
          // ceiling; downstream reads it as DOUBLE, outputs unchanged.
          sum(col("cents").cast("decimal(19,0)") * col("cents"))
            .as("s2"))
      val w = g.agg(
        max(when(col("v") === 0, col("n"))).as("n_a"),
        max(when(col("v") === 0, col("s"))).as("sum_a_cents"),
        max(when(col("v") === 0, col("s2"))).as("s2_a"),
        max(when(col("v") === 1, col("n"))).as("n_b"),
        max(when(col("v") === 1, col("s"))).as("sum_b_cents"),
        max(when(col("v") === 1, col("s2"))).as("s2_b"))
      def variance(s2: String, sm: String, n: String) =
        (col(s2).cast("double") -
          (col(sm).cast("double") * col(sm)) / col(n)) / (col(n) - 1)
      val meanDiff = col("sum_b_cents").cast("double") / col("n_b") -
        col("sum_a_cents").cast("double") / col("n_a")
      w.withColumn("var_a", variance("s2_a", "sum_a_cents", "n_a"))
        .withColumn("var_b", variance("s2_b", "sum_b_cents", "n_b"))
        .select(col("n_a"), col("sum_a_cents"), col("n_b"), col("sum_b_cents"),
          round(meanDiff, 6).as("mean_diff_cents"),
          round(meanDiff /
            sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6)
            .as("t_stat"))
    },

    // Stream-static enrichment join — the canonical "decorate the event
    // stream with a dimension" topology (completing the streaming join
    // family: q114 is stream-stream). The purchase STREAM joins the static
    // customer dimension (user_id ≙ c_custkey) inside the micro-batch
    // plan; Spark re-plans the static side per batch, so at scale the
    // dimension broadcasts and the stream never shuffles for the join. A
    // complete-mode revenue-by-segment aggregate runs ON the stream; the
    // oracle recomputes the identical join+aggregate in batch SQL — exact
    // cents, FULL hash parity (the streaming result must equal batch to
    // the cent, not just in shape).
    Q("q180_stream_enrich",
      """SELECT c_mktsegment AS segment,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS rev_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val dim = broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")))
      val enriched = EventStreams.readEvents(s, d)
        .filter(col("event_type") === "purchase")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).cast("long").as("n_purchases"),
          sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("rev_cents"))
      EventStreams.runToMemory(s, enriched, "q180_enrich",
          outputMode = "complete", shufflePartitions = Some(8))
        .select(col("segment"), col("n_purchases"), col("rev_cents"))
        .orderBy(col("segment"))
    },

    // CDC changelog application with delete tombstones — the MERGE variant
    // q81's upsert doesn't cover: the event feed is read as a per-user
    // change stream ('error' rows are tombstones, everything else upserts
    // the user's value), applied in (ts, event_id) order, latest wins.
    // Scale shape: NO window and no per-key sort — the latest op per key
    // is a single struct-max aggregate ((ts, event_id) is unique, so the
    // lexicographic max IS the last change), which partial-aggregates
    // map-side; one shuffle keyed by user_id carries one candidate row
    // per (partition, user). The final-state audit (live keys, tombstoned
    // keys, surviving value total in exact cents) folds in the same plan.
    Q("q181_cdc_apply",
      """WITH c AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS del,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |f AS (SELECT * FROM c WHERE rn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(1 - del) AS BIGINT) AS n_live,
        |       CAST(sum(del) AS BIGINT) AS n_tombstoned,
        |       CAST(sum(CASE WHEN del = 0 THEN cents END) AS BIGINT)
        |         AS live_sum_cents
        |FROM f""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            (col("event_type") === "error").cast("int").as("del"),
            round(col("value") * 100, 0).cast("long").as("cents"))
            .as("op"))
        .groupBy(col("user_id"))
        .agg(max(col("op")).as("last"))
        .agg(count(lit(1)).cast("long").as("n_keys"),
          sum(lit(1) - col("last.del")).cast("long").as("n_live"),
          sum(col("last.del")).cast("long").as("n_tombstoned"),
          sum(when(col("last.del") === 0, col("last.cents"))).cast("long")
            .as("live_sum_cents"))
    },

    // Funnel latency distribution — q86 counts WHO converts; this measures
    // HOW FAST: per user, hours from the first view to the first purchase
    // at or after it, summarized as exact-integer hour quantiles. Scale
    // shape: both sides reduce per-user BEFORE the join (first-view is an
    // aggregate, candidate purchases join on user_id co-partitioned with
    // the conditional min folded into the same keyed aggregate); the
    // quantile runs over one duration row per converted user. Durations
    // floor to whole hours in BIGINT, so the only doubles are the
    // interpolated quantiles, rounded at 6.
    Q("q182_funnel_latency",
      """WITH v AS (
        |  SELECT user_id, min(ts) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |j AS (
        |  SELECT v.user_id,
        |         CAST(date_diff('second', v.fv, min(e.ts)) // 3600 AS BIGINT)
        |           AS hrs
        |  FROM v JOIN events e ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= v.fv
        |  GROUP BY v.user_id, v.fv)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |       round(quantile_cont(hrs, 0.5), 6) AS p50_hours,
        |       round(quantile_cont(hrs, 0.9), 6) AS p90_hours,
        |       CAST(max(hrs) AS BIGINT) AS max_hours
        |FROM j""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val fv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fv"))
      val hrs = e.filter(col("event_type") === "purchase")
        .join(fv, "user_id")
        .filter(col("ts") >= col("fv"))
        .groupBy(col("user_id"), col("fv"))
        .agg(min(col("ts")).as("fp"))
        .select(((col("fp").cast("timestamp").cast("long")
          - col("fv").cast("timestamp").cast("long"))
          .cast("long") / 3600).cast("long").as("hrs"))
      hrs.agg(count(lit(1)).cast("long").as("n_converted"),
        round(expr("percentile(hrs, 0.5)"), 6).as("p50_hours"),
        round(expr("percentile(hrs, 0.9)"), 6).as("p90_hours"),
        max(col("hrs")).cast("long").as("max_hours"))
    },

    // Semi-structured VARIANT ingestion (Spark 4's parse_json → binary
    // variant encoding) — the modern alternative to q22's string-path
    // get_json_object: parse once into the shredded binary form, then
    // typed variant_get extraction feeds ordinary codegen'd aggregation.
    // The histogram (typed k div 10) plus a deliberate missing-path probe
    // pin both the typed-access and the null-on-absent semantics against
    // DuckDB's reference JSON reader. At scale the parse is one map-side
    // pass and the shuffle carries 10 bucket rows.
    Q("q184_variant_json",
      """SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) // 10
        |            AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
        |            AS BIGINT) AS sum_k,
        |       CAST(count(json_extract_string(props, '$.absent'))
        |            AS BIGINT) AS n_absent_hits
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", expr("variant_get(v, '$.k', 'int')"))
        .withColumn("miss", expr("variant_get(v, '$.absent', 'int')"))
        .groupBy(expr("CAST(k div 10 AS INT)").as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          count(col("miss")).cast("long").as("n_absent_hits"))
        .orderBy(col("bucket"))
    },

    // Abandonment cohorts — q182's complement: of the users who viewed,
    // how many NEVER purchased within 72 h of their first view, cohorted
    // by first-view day. The "did a qualifying purchase exist" probe is a
    // conditional aggregate folded into the SAME keyed reduction as the
    // join (no second pass, no anti join over raw rows): both sides
    // reduce per-user first, the purchase leg joins co-partitioned on
    // user_id with a LEFT join so never-purchasers survive, and the
    // cohort rollup is a ≤31-row aggregate. Exact integers only.
    Q("q195_abandonment",
      """WITH v AS (
        |  SELECT user_id, min(ts) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT v.user_id,
        |         CAST(max(CASE WHEN e.ts >= v.fv
        |                        AND e.ts < v.fv + INTERVAL 72 HOUR
        |                       THEN 1 ELSE 0 END) AS INT) AS converted
        |  FROM v LEFT JOIN events e
        |    ON v.user_id = e.user_id AND e.event_type = 'purchase'
        |  GROUP BY 1),
        |j AS (
        |  SELECT CAST(day(v.fv) AS INT) AS cohort_day,
        |         coalesce(p.converted, 0) AS converted
        |  FROM v JOIN p ON v.user_id = p.user_id)
        |SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_viewers,
        |       CAST(sum(1 - converted) AS BIGINT) AS n_abandoned,
        |       round(CAST(sum(1 - converted) AS DOUBLE) / count(*), 6)
        |         AS abandon_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val fv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fv"))
      val conv = fv
        .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts")), Seq("user_id"),
          "left")
        .groupBy(col("user_id"), col("fv"))
        .agg(max(when(col("pts") >= col("fv") &&
          col("pts") < col("fv") + expr("INTERVAL 72 HOUR"), 1)
          .otherwise(0)).as("converted"))
      conv
        .groupBy(dayofmonth(col("fv")).cast("int").as("cohort_day"))
        .agg(count(lit(1)).cast("long").as("n_viewers"),
          sum(lit(1) - col("converted")).cast("long").as("n_abandoned"),
          round(sum(lit(1) - col("converted")).cast("double")
            / count(lit(1)), 6).as("abandon_rate"))
        .orderBy(col("cohort_day"))
    },

    // Ordered string aggregation (LISTAGG semantics) — the "render the
    // group as a canonical delimited string" op, pinned across engines by
    // an explicit total order: Spark sorts the collected list
    // (sort_array ∘ collect_list — collect order is nondeterministic,
    // the sort is what makes it canonical), DuckDB orders inside
    // string_agg. The md5 of each rendered string pins every byte.
    // Scale: group payloads here are dimension-sized (nations/region);
    // for fact-scale groups the canonical-string op itself is the
    // anti-pattern — that contract lives in the doc, the op exists for
    // dimension rendering.
    Q("q196_ordered_listagg",
      """SELECT r_name,
        |       CAST(count(*) AS BIGINT) AS n_nations,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       md5(string_agg(n_name, ',' ORDER BY n_name)) AS nations_md5
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val joined = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
      joined.groupBy(col("r_name"))
        .agg(count(lit(1)).cast("long").as("n_nations"),
          concat_ws(",", sort_array(collect_list(col("n_name"))))
            .as("nations"))
        .select(col("r_name"), col("n_nations"), col("nations"),
          md5(col("nations").cast("binary")).as("nations_md5"))
        .orderBy(col("r_name"))
    },

    // Streaming checkpoint-restart recovery — the exactly-once property
    // every production stream rests on and no other query exercises: a
    // file-source stream aggregates batch 1 (the full event corpus) under
    // a checkpoint, STOPS, a late file (the purchase rows) lands, and a
    // SECOND query instance resumes from the same checkpoint. The source
    // log must replay NOTHING (the resumed run may ingest only the new
    // file's rows — asserted in-engine from StreamingQueryProgress) and
    // lose nothing (the final complete-mode state must equal the batch
    // aggregate of corpus ⊎ purchases, exact cents — the oracle
    // recomputes it). Scratch input/checkpoint dirs are wiped per
    // invocation so the query is idempotent within a session.
    Q("q197_stream_recovery",
      """WITH u AS (
        |  SELECT event_type, value FROM events
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_type = 'purchase')
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       TRUE AS resumed_incrementally
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val root = Sources.scratchDir(s, "graft_ckpt")
      val ckDir = root.resolve("checkpoint")
      EventStreams.wipe(ckDir)
      val batch = Tables.events(s, d).select(col("event_type"), col("value"))
      // batch 1: the full corpus lands as the first source file(s)
      val (inDir, raw) = EventStreams.fileReplay(s, batch, root)
      val agg = raw.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("sum_cents"))
      def runOnce(name: String): Long =
        // width 4 for BOTH the state stage and the micro-batch scan splits
        // (EventStreams.run): 5 grouping keys, few-MB replay files — the
        // session's 32-wide defaults are pure task-launch overhead here,
        // and the checkpoint bakes the state width, so both runs must pin
        // the same value
        EventStreams.run(s, agg, Some(4))(_.outputMode("complete")
          .format("memory").queryName(name)
          .option("checkpointLocation", ckDir.toString)) { q =>
          q.processAllAvailable()
          q.recentProgress.map(_.numInputRows).sum
        }
      runOnce("q197_run1")
      // a late file lands while the stream is DOWN
      val delta = batch.filter(col("event_type") === "purchase")
      EventStreams.landFile(delta, inDir, "f2")
      val nDelta = delta.count()
      val resumedRows = runOnce("q197_run2")
      // the resumed instance may ingest AT MOST the new file (zero if the
      // final batch was planned before stop; never a replay of file 1)
      s.table("q197_run2")
        .withColumn("resumed_incrementally", lit(resumedRows <= nDelta))
        .orderBy(col("event_type"))
    },

    // Audience-overlap matrix — the segment-planning read: for every pair
    // of event types, how many users did BOTH, and the Jaccard of the two
    // audiences. Scale shape: the corpus reduces to DISTINCT (user, type)
    // rows in one pass; the pair enumeration is a self-join on user_id
    // (each user expands to at most |types|² = 25 pairs, bounded by the
    // type domain, co-partitioned on the key), and the audience sizes
    // broadcast back onto the 10-row pair frame. Exact counts, rounded
    // Jaccard.
    Q("q202_audience_overlap",
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS na
        |      FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, na.na AS n_a, nb.na AS n_b,
        |       round(CAST(n_both AS DOUBLE)
        |             / (na.na + nb.na - n_both), 6) AS jaccard
        |FROM p JOIN n na ON type_a = na.event_type
        |JOIN n nb ON type_b = nb.event_type
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        // ckpt(a): both pair sides + audience sizes; lazy plan rescans events
        .eagerCkpt
      val n = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("na"))
      val pairs = ut.toDF("user_id", "type_a")
        .join(ut.toDF("user_id", "type_b"), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).cast("long").as("n_both"))
      pairs
        .join(broadcast(n.toDF("type_a", "n_a")), "type_a")
        .join(broadcast(n.toDF("type_b", "n_b")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
          col("n_b"),
          round(col("n_both").cast("double")
            / (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // DYNAMIC-gap sessionization — q25's fixed 30-minute gap generalized
    // to per-event gaps (purchases hold a session open 60 min, errors
    // 5 min, the rest 30): a session ends only when an event starts at or
    // after the RUNNING MAX of every previous event's (ts + its own gap).
    // That running-max-end is the algorithmic difference from q25's
    // adjacent-lag test — a long-gap event can bridge across several
    // short-gap ones. All comparisons run in exact epoch MICROSECONDS
    // (unix_micros ≙ epoch_us), so no interval-boundary semantics can
    // drift between engines. Windows partition by user — fully parallel.
    Q("q203_dynamic_sessions",
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         epoch_us(ts) AS t_us,
        |         epoch_us(ts) + CASE event_type
        |           WHEN 'purchase' THEN 3600000000
        |           WHEN 'error' THEN 300000000
        |           ELSE 1800000000 END AS end_us
        |  FROM events),
        |x AS (
        |  SELECT user_id, t_us, end_us,
        |         CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |                ORDER BY t_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                IS NULL
        |              OR t_us >= max(end_us) OVER (PARTITION BY user_id
        |                ORDER BY t_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM g),
        |s AS (
        |  SELECT user_id, is_new,
        |         sum(is_new) OVER (PARTITION BY user_id
        |           ORDER BY t_us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |per AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(max(n) AS BIGINT) AS max_session_n
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tUs = unix_micros(col("ts").cast("timestamp"))
      val gapUs = when(col("event_type") === "purchase", 3600000000L)
        .when(col("event_type") === "error", 300000000L)
        .otherwise(1800000000L)
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val prevEnd = max(col("end_us")).over(wPrev)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tUs.as("t_us"),
          (tUs + gapUs).as("end_us"))
        .withColumn("is_new",
          when(prevEnd.isNull || col("t_us") >= prevEnd, 1).otherwise(0))
        .withColumn("sid", sum(col("is_new")).over(wCum))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("n")).cast("long").as("n_events"),
          max(col("n")).cast("long").as("max_session_n"))
        .orderBy(col("user_id"))
    },

    // Right-to-be-forgotten purge cascade — the compliance sweep: users
    // whose LAST event is a tombstone (q181's erased set) cascade through
    // the schema: their event rows, their orders (user_id ≙ o_custkey),
    // and the line items of those orders. Every hop is a keyed semi join
    // (bloom-reducible at scale; the erased-user set itself is a
    // struct-max aggregate, never a window), and the report is the exact
    // row counts a deletion job would have to rewrite.
    Q("q204_purge_cascade",
      """WITH last AS (
        |  SELECT user_id,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS del,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |erased AS (SELECT user_id FROM last WHERE rn = 1 AND del = 1),
        |ev AS (SELECT CAST(count(*) AS BIGINT) AS ev_rows FROM events
        |       WHERE user_id IN (SELECT user_id FROM erased)),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS ord_rows FROM orders
        |      WHERE o_custkey IN (SELECT user_id FROM erased)),
        |l AS (SELECT CAST(count(*) AS BIGINT) AS li_rows FROM lineitem
        |      WHERE l_orderkey IN (
        |        SELECT o_orderkey FROM orders
        |        WHERE o_custkey IN (SELECT user_id FROM erased)))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM erased)
        |         AS n_erased_users,
        |       ev_rows, ord_rows, li_rows
        |FROM ev, o, l""".stripMargin) { (s, d) =>
      val erased = Tables.events(s, d)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            (col("event_type") === "error").cast("int").as("del")).as("op"))
        .groupBy(col("user_id")).agg(max(col("op")).as("last"))
        .filter(col("last.del") === 1)
        .select(col("user_id"))
        // ckpt(a): three cascade hops; lazy plan rescans events
        .eagerCkpt
      val evRows = Tables.events(s, d)
        .join(erased, Seq("user_id"), "left_semi")
        .agg(count(lit(1)).cast("long").as("ev_rows"))
      val ords = Tables.orders(s, d)
        .join(erased.withColumnRenamed("user_id", "o_custkey"),
          Seq("o_custkey"), "left_semi")
        // ckpt(a): the count + the lineitem join; lazy plan rescans orders
        .eagerCkpt
      val ordRows = ords.agg(count(lit(1)).cast("long").as("ord_rows"))
      val liRows = Tables.lineitem(s, d)
        .join(ords.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_semi")
        .agg(count(lit(1)).cast("long").as("li_rows"))
      erased.agg(count(lit(1)).cast("long").as("n_erased_users"))
        .crossJoin(broadcast(evRows))
        .crossJoin(broadcast(ordRows))
        .crossJoin(broadcast(liRows))
    },

    // foreachBatch MERGE sink — the "streaming upsert into a lakehouse
    // table" idiom (the piece q180/q197 don't cover: a custom SINK).
    // Each micro-batch of an update-mode aggregate carries the keys it
    // changed with their new totals; the foreachBatch hook merges them
    // into a versioned parquet state table (previous rows whose keys are
    // untouched + the updated rows — exactly Delta/Iceberg MERGE compiled
    // by hand, the q81 pattern driven from a stream). The final version
    // must equal the batch aggregate in exact cents; merged_ok asserts at
    // least one merge ran and the version chain advanced monotonically.
    Q("q208_foreachbatch_merge",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       TRUE AS merged_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val root = Sources.scratchDir(s, "graft_febm")
      val stateRoot = root.resolve("state")
      EventStreams.wipe(stateRoot)
      @volatile var version = 0
      val agg = EventStreams.readEvents(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("sum_cents"))
      // width 4 (EventStreams.run): 5 grouping keys, a few-MB source —
      // the session's 32-wide state + scan splits are launch overhead
      EventStreams.run(s, agg, Some(4))(_.outputMode("update")
        .foreachBatch { (delta: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val next = version + 1
          val merged =
            if (version == 0) delta
            else s.read.parquet(s"$stateRoot/v$version")
              .join(delta.select(col("event_type")), Seq("event_type"),
                "left_anti")
              .unionByName(delta)
          merged.write.mode("overwrite").parquet(s"$stateRoot/v$next")
          version = next
        })(_.processAllAvailable())
      val ok = version >= 1
      s.read.parquet(s"$stateRoot/v$version")
        .withColumn("merged_ok", lit(ok))
        .orderBy(col("event_type"))
    },

    // Watermark late-data accounting — the event-time guarantee q23-q25
    // never stress (their single batch has no late rows): recent events
    // (day > 5) stream FIRST and advance the watermark to max(ts) − 1 h;
    // only then does the old tail (day ≤ 5, weeks late) arrive. Append
    // mode must emit exactly the daily windows FINALIZED by the
    // watermark — window.end ≤ max(ts) − 1 h, the last day always
    // withheld — with NO late contamination (the per-window counts hash
    // against fresh-only sums: that IS the exclusion proof). The
    // accounting boolean is deliberately weaker than |late|:
    // numRowsDroppedByWatermark attributes only rows reaching the state
    // operator (measured 5 of 165 here — the rest die in the pre-state
    // watermark filter), so it asserts drops registered and never
    // exceeded the late count. The oracle derives the emitted-window set
    // from the same watermark arithmetic.
    Q("q213_watermark_drops",
      """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
        |            WHERE day(ts) > 5)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       TRUE AS late_dropped_ok
        |FROM events, wm
        |WHERE day(ts) > 5
        |  AND date_trunc('day', ts) + INTERVAL 1 DAY <= w
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val batch = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val fresh = batch.filter(dayofmonth(col("ts")) > 5)
      val late = batch.filter(dayofmonth(col("ts")) <= 5)
      val (inDir, raw) =
        EventStreams.fileReplay(s, fresh, Sources.scratchDir(s, "graft_wmk"))
      val agg = raw
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).cast("long").as("n_events"))
      // width 4 (EventStreams.run): ~30 daily windows of state, few-MB
      // replay files — see q208/q197
      val (nLate, dropped) = EventStreams.run(s, agg, Some(4))(
        _.outputMode("append").format("memory").queryName("q213_wmk")) { q =>
        q.processAllAvailable() // batch 1: fresh rows set the watermark
        EventStreams.landFile(late, inDir, "f2")
        val n = late.count()
        q.processAllAvailable() // batch 2: every row is behind the mark
        (n, q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum)
      }
      s.table("q213_wmk")
        .select(col("window.start").cast("timestamp_ntz").cast("timestamp")
          .as("day_start"), col("n_events"),
          lit(dropped > 0 && dropped <= nLate).as("late_dropped_ok"))
        .orderBy(col("day_start"))
    },

    // Stream-stream LEFT OUTER join — the semantics corner q114's inner
    // join never exercises: an unmatched view may only emit its
    // null-padded row once the WATERMARK proves no purchase can still
    // arrive inside the 1-hour attribution window, so outer results
    // trail the data by exactly the state-retention bound. The replay
    // drives that machinery end to end: batch 1 streams the corpus
    // (matched pairs emit as they join; tail views are HELD), then a
    // single future sentinel view advances the watermark past every
    // pending row and flushes the held nulls — the "how do I get my
    // outer results out" move every production stream-stream-join user
    // learns. Parity: the flushed stream must equal the batch LEFT JOIN
    // row-for-row in counts (sentinel excluded); the oracle recomputes
    // the batch side. State is bounded by the watermark horizon per key
    // — the q114 scale contract, plus outer-row bookkeeping.
    Q("q267_stream_outer_join",
      """WITH v AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id AS pu, ts AS pts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(pts) AS BIGINT) AS n_matched,
        |       CAST(count(*) - count(pts) AS BIGINT) AS n_unmatched,
        |       TRUE AS parity_ok
        |FROM v LEFT JOIN p
        |  ON v.user_id = pu AND pts > v.ts
        | AND pts <= v.ts + INTERVAL 1 HOUR""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val batch = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (inDir, raw) =
        EventStreams.fileReplay(s, batch, Sources.scratchDir(s, "graft_soj"))
      val feed = raw.withColumn("ts", col("ts").cast("timestamp"))
      val v = feed.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val p = feed.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = v.join(p, col("v_user") === col("p_user") &&
        col("p_ts") > col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"), "left_outer")
      val mxTs = batch.agg(max(col("ts")).cast("timestamp").as("m"))
        .head().getTimestamp(0)
      import s.implicits._
      // BOTH sides need a sentinel: the join's global watermark is the
      // MIN across the two input watermarks, so a view-only sentinel
      // leaves the purchase side's mark (and hence eviction) stuck
      def sentinel(hrs: Long, name: String): Unit = {
        val t0 = java.sql.Timestamp.from(
          mxTs.toInstant.plusSeconds(hrs * 3600))
        EventStreams.landFile(
          Seq((-1L, t0, -1L, "view", 0.0), (-2L, t0, -1L, "purchase", 0.0))
            .toDF("event_id", "ts", "user_id", "event_type", "value"),
          inDir, name)
      }
      // O(1)-driver parity fold (round-9 fix — the old memory sink held
      // the full outer-joined row stream driver-side): emitted count,
      // matched count, and an order-independent sum-of-hash checksum of
      // the (view, matched-purchase-ts) tuples, reduced executor-side
      // per micro-batch. The sentinel rows (user −1) are excluded inside
      // the AGGREGATES, not by a stream-side filter: a filter on v_user
      // would be pushed below the join/watermark operators and change
      // which sentinel rows reach the watermark tracker (observed: one
      // real view went un-flushed), so the row stream stays untouched —
      // exactly the plan the memory-sink harness ran.
      val real = col("v_user") >= 0
      val st = EventStreams.runFolded(s, joined,
        Seq(sum(when(real, 1L).otherwise(0L)).cast("long"),
          sum(when(real && col("p_ts").isNotNull, 1L).otherwise(0L))
            .cast("long"),
          sum(when(real, pmod(xxhash64(col("v_user"), col("v_ts"),
            col("p_ts")), lit(1L << 31))).otherwise(0L)).cast("long")),
        shufflePartitions = Some(4), // see q114: state width tracks keys
        feed = { q =>
          q.processAllAvailable() // matched rows emit; tail views held
          // TWO flush batches, because the watermark lags one micro-batch:
          // the mark computed from batch N's data only EVICTS during batch
          // N+1. f2's sentinel (max+3h) raises the mark past every held
          // view; f3's sentinel triggers the batch that actually emits the
          // tail (observed: without it, the newest unmatched views stay
          // held forever under processAllAvailable).
          sentinel(3, "f2")
          q.processAllAvailable()
          sentinel(4, "f3")
          q.processAllAvailable()
        })
      Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("bu"), col("ts").as("bts"))
        .join(Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts").as("pts")),
          col("bu") === col("pu") && col("pts") > col("bts") &&
            col("pts") <= col("bts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .agg(count(lit(1)).as("n_rows"), count(col("pts")).as("n_matched"),
          sum(pmod(xxhash64(col("bu"), col("bts"), col("pts")),
            lit(1L << 31))).cast("long").as("b_chk"))
        .select(col("n_rows").cast("long").as("n_rows"),
          col("n_matched").cast("long").as("n_matched"),
          (col("n_rows") - col("n_matched")).cast("long")
            .as("n_unmatched"),
          (lit(st(0)) === col("n_rows") &&
            lit(st(1)) === col("n_matched") &&
            lit(st(2)) === col("b_chk")).as("parity_ok"))
    },

    // Rate-limited historical backfill through the streaming path — the
    // op q197/q213 don't cover: the corpus replays as THREE chronological
    // files under maxFilesPerTrigger=1, so the daily aggregation runs as
    // a genuine multi-micro-batch backfill with the watermark advancing
    // incrementally batch over batch (the standard "reprocess history
    // through the same streaming job" pattern; at 100 TB the rate limit
    // is what keeps each micro-batch's state delta bounded). Append mode
    // must emit exactly the windows the FINAL watermark (global max ts −
    // 1 h) finalizes — the trailing no-data micro-batch flushes the last
    // eligible windows — and the per-window counts must equal the batch
    // aggregate's. Verified through the O(1) runFolded harness: emitted
    // window count, emitted event total (both DuckDB-recomputed from the
    // same watermark arithmetic) plus an in-engine checksum pinning the
    // exact (window, count) multiset and a ≥3-feeding-batches property.
    Q("q286_backfill_replay",
      """WITH w AS (
        |  SELECT CAST(max(epoch_us(ts)) AS BIGINT) - 3600000000 AS wm
        |  FROM events),
        |g AS (
        |  SELECT date_trunc('day', ts) AS day_start, count(*) AS n
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT g.*,
        |         CAST(epoch_us(day_start + INTERVAL 1 DAY) AS BIGINT)
        |           <= wm AS fin
        |  FROM g, w)
        |SELECT CAST(sum(CASE WHEN fin THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_windows,
        |       CAST(coalesce(sum(CASE WHEN fin THEN n END), 0) AS BIGINT)
        |         AS n_events_final,
        |       CAST(coalesce(sum(CASE WHEN NOT fin THEN n END), 0)
        |            AS BIGINT) AS n_events_withheld,
        |       CAST(1 AS BOOLEAN) AS multi_batch_ok,
        |       CAST(1 AS BOOLEAN) AS windows_match
        |FROM e""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val batch = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        // ckpt(a): the bounds head() job, the three stream thirds and the reference
        .eagerCkpt
      val Array(lo, hi) = batch.agg(min(col("us")), max(col("us")))
        .head() match { case r => Array(r.getLong(0), r.getLong(1)) }
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        .map(col)
      val (inDir, raw) = EventStreams.fileReplay(s,
        batch.filter(col("us") <= t1).select(cols: _*),
        Sources.scratchDir(s, "graft_bkf"),
        options = Map("maxFilesPerTrigger" -> "1"))
      EventStreams.landFile(
        batch.filter(col("us") > t1 && col("us") <= t2).select(cols: _*),
        inDir, "f2")
      EventStreams.landFile(
        batch.filter(col("us") > t2).select(cols: _*), inDir, "f3")
      // FileStreamSource orders its initial listing by modification time;
      // pin strictly increasing mtimes so the thirds replay in
      // chronological order even on coarse-mtime filesystems (an
      // out-of-order replay would drop earlier files' rows as late and
      // silently shrink n_events_final)
      locally {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val base = java.time.Instant.now()
        Seq("f1", "f2", "f3").zipWithIndex.foreach { case (n, i) =>
          Files.walk(Paths.get(inDir, n)).iterator().asScala.foreach { p =>
            Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
              .from(base.plusSeconds(i * 10L)))
          }
        }
      }
      val agg = raw.withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(unix_micros(col("window.start")).as("ws"), col("n"))
      val chk = sum(pmod(xxhash64(col("ws"), col("n")), lit(1L << 31)))
        .cast("long")
      @volatile var feeding = 0
      val st = EventStreams.runFolded(s, agg,
        Seq(count(lit(1)), sum(col("n")).cast("long"), chk),
        shufflePartitions = Some(4),
        feed = { q =>
          q.processAllAvailable()
          feeding = q.recentProgress.count(_.numInputRows > 0)
        })
      val ref = batch
        .groupBy(window(col("ts").cast("timestamp"), "1 day"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(unix_micros(col("window.start")).as("ws"),
          unix_micros(col("window.end")).as("we"), col("n"))
        .withColumn("fin", col("we") <= lit(hi - 3600L * 1000000L))
      ref.agg(
          sum(when(col("fin"), 1L).otherwise(0L)).cast("long")
            .as("n_windows"),
          coalesce(sum(when(col("fin"), col("n"))), lit(0L)).cast("long")
            .as("n_events_final"),
          coalesce(sum(when(!col("fin"), col("n"))), lit(0L)).cast("long")
            .as("n_events_withheld"),
          coalesce(sum(when(col("fin"),
            pmod(xxhash64(col("ws"), col("n")), lit(1L << 31)))), lit(0L))
            .cast("long").as("b_chk"))
        .select(col("n_windows"), col("n_events_final"),
          col("n_events_withheld"),
          lit(feeding >= 3).as("multi_batch_ok"),
          (lit(st(0)) === col("n_windows") &&
            lit(st(1)) === col("n_events_final") &&
            lit(st(2)) === col("b_chk")).as("windows_match"))
    },

    // Watermark calibration — the number `withWatermark` should be SET
    // from instead of guessed: treating event_id as arrival order, each
    // event's lateness is how far it sits behind the per-user running
    // event-time high mark (running max ts − ts, exact µs). The lateness
    // distribution's tail quantiles ARE the watermark delay that would
    // keep that fraction of events: p99 here is what a q76/q114-style
    // pipeline should configure. Per-user windows (parallel); the global
    // quantiles run over the lateness values with exact interpolation.
    Q("q276_watermark_calibration",
      """WITH o AS (
        |  SELECT user_id, event_id,
        |         CAST(epoch_us(ts) AS BIGINT) AS us,
        |         max(CAST(epoch_us(ts) AS BIGINT)) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS hi
        |  FROM events),
        |l AS (SELECT hi - us AS late_us FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_late,
        |       round(quantile_cont(late_us, 0.5) / 1e6, 6) AS p50_late_s,
        |       round(quantile_cont(late_us, 0.95) / 1e6, 6) AS p95_late_s,
        |       round(quantile_cont(late_us, 0.99) / 1e6, 6) AS p99_late_s,
        |       round(max(late_us) / 1e6, 6) AS max_late_s
        |FROM l""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("late_us", max(col("us")).over(w) - col("us"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(when(col("late_us") > 0, 1L).otherwise(0L)).cast("long")
            .as("n_late"),
          round(expr("percentile(late_us, 0.5)") / 1e6, 6).as("p50_late_s"),
          round(expr("percentile(late_us, 0.95)") / 1e6, 6)
            .as("p95_late_s"),
          round(expr("percentile(late_us, 0.99)") / 1e6, 6)
            .as("p99_late_s"),
          round(max(col("late_us")) / 1e6, 6).as("max_late_s"))
    },

    // Hour-of-day × day-of-week error-rate lift — the ops heatmap that
    // separates "errors spike at 3am Sunday" (deploy window) from "errors
    // track traffic" (no lift anywhere): per calendar cell, the error
    // share relative to the corpus-wide share, exact-count ratios with
    // the global baseline broadcast back onto the ≤168-cell frame. Cells
    // are emitted only when they carry enough traffic for the lift to
    // mean anything (n ≥ 5 — sized to keep the smallest test corpus
    // non-empty), and the denominator-zero guard is explicit
    // in both engines.
    Q("q268_error_lift_grid",
      """WITH c AS (
        |  SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7
        |              AS INT) AS dw,
        |         CAST(hour(ts) AS INT) AS hr, count(*) AS n,
        |         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS k
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT sum(k) / CAST(sum(n) AS DOUBLE) AS p0 FROM c)
        |SELECT dw, hr, CAST(n AS BIGINT) AS n_events,
        |       CAST(k AS BIGINT) AS n_errors,
        |       round(CAST(k AS DOUBLE) / n / p0, 6) AS lift
        |FROM c, t WHERE n >= 5 AND p0 > 0
        |ORDER BY dw, hr""".stripMargin) { (s, d) =>
      // portable 0=Sunday weekday from epoch days — Spark's dayofweek is
      // 1-based Sunday, DuckDB's 0-based: neither survives a hash compare
      val c = Tables.events(s, d)
        .groupBy(((datediff(col("ts").cast("date"),
          lit("1970-01-01").cast("date")) + 4) % 7).cast("int").as("dw"),
          hour(col("ts")).cast("int").as("hr"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("k"))
      val t = c.agg((sum(col("k")) / sum(col("n")).cast("double")).as("p0"))
      c.join(broadcast(t), lit(true))
        .filter(col("n") >= 5 && col("p0") > 0)
        .select(col("dw"), col("hr"), col("n").cast("long").as("n_events"),
          col("k").cast("long").as("n_errors"),
          round(col("k").cast("double") / col("n") / col("p0"), 6)
            .as("lift"))
        .orderBy(col("dw"), col("hr"))
    },

    // Longest consecutive-active-day streak per user, as a streak-length
    // histogram — the engagement metric behind every "N-day streak" badge,
    // and the canonical gaps-and-islands exercise: on each user's distinct
    // active days, (day − row_number) is constant exactly along runs of
    // consecutive days, so one per-user window + two aggregates find every
    // island. Scale shape: the corpus reduces to distinct (user, day)
    // first (partial map-side), the only window partitions BY USER (fully
    // parallel, bounded by a user's active days), and the output is a
    // histogram bounded by the calendar span. All integers end to end.
    Q("q226_activity_streaks",
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (
        |  SELECT user_id,
        |         CAST(day - DATE '1970-01-01' AS BIGINT)
        |           - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM days),
        |s AS (SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2),
        |l AS (SELECT user_id, max(len) AS streak FROM s GROUP BY 1)
        |SELECT CAST(streak AS BIGINT) AS streak_days,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(user_id) AS BIGINT) AS user_checksum
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val days = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("grp",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")
            - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("streak"))
        .groupBy(col("streak").cast("long").as("streak_days"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("user_id")).cast("long").as("user_checksum"))
        .orderBy(col("streak_days"))
    },

    // Top session PATHS — product analytics' "what do users actually do":
    // each 30-min-gap session becomes its ordered event-type sequence
    // ("view>click>purchase"), counted corpus-wide, top 10. Extends q94's
    // pairwise transitions to whole trajectories and q203's session
    // STATISTICS to session CONTENT. Scale shape: the lag/cumsum
    // sessionizer runs in per-user windows (parallel, bounded by a user's
    // events); each session reduces to ONE path string via a sorted
    // in-group array (never a cross-row shuffle of raw events beyond the
    // user partitioning); the final count-and-top-10 aggregates path
    // strings, whose distinct count is bounded by observed behavior, not
    // rows. Tie order everywhere is (ts, event_id) — total and identical
    // in both engines.
    Q("q227_session_paths",
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |p AS (
        |  SELECT user_id, sid,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        // µs-exact gap test: an integer-seconds cast would truncate
        // sub-second parts and split a 1799.2s gap that straddles two
        // whole-second boundaries (off-by-one vs the oracle's INTERVAL
        // comparison, caught at sf0.1)
        .withColumn("ns", when(col("prev").isNull ||
          unix_micros(col("ts").cast("timestamp"))
            - unix_micros(col("prev").cast("timestamp")) >= 1800L * 1000000L,
          1L).otherwise(0L))
        .withColumn("sid", sum(col("ns"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).cast("long").as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path"))
        .limit(10)
    },

    // Error-burst detection with a Wilson lower confidence bound — the
    // alerting rule that doesn't page on a 1-of-2 blip: a 6-hour bucket
    // alerts only when even the CONSERVATIVE end of its error-rate CI
    // (Wilson score interval, z = 1.96) still exceeds the corpus-wide
    // baseline rate. Scale shape: one partial-aggregated scan to
    // calendar-bounded buckets; the baseline is a single-row aggregate
    // broadcast back; the Wilson algebra is the same double formula over
    // exact BIGINT (k, n) in both engines, so the alert comparison is
    // bit-deterministic.
    Q("q229_error_bursts",
      """WITH b AS (
        |  SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) // 21600 * 21600
        |              AS BIGINT) AS bucket,
        |         count(*) AS n,
        |         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS k
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(k) / CAST(sum(n) AS DOUBLE) AS p0 FROM b),
        |w AS (
        |  SELECT bucket, n, k, p0,
        |         CAST(k AS DOUBLE) / n AS ph,
        |         1.96 * 1.96 AS z2
        |  FROM b, t),
        |l AS (
        |  SELECT bucket, n, k, p0,
        |         (ph + z2 / (2 * n)
        |          - 1.96 * sqrt(ph * (1 - ph) / n + z2 / (4.0 * n * n)))
        |           / (1 + z2 / n) AS lb
        |  FROM w)
        |SELECT bucket, CAST(n AS BIGINT) AS n_events,
        |       CAST(k AS BIGINT) AS n_errors,
        |       round(CAST(k AS DOUBLE) / n, 6) AS err_rate,
        |       round(lb, 6) AS wilson_lb
        |FROM l WHERE lb > p0 ORDER BY bucket""".stripMargin) { (s, d) =>
      val z2 = lit(1.96 * 1.96)
      val b = Tables.events(s, d)
        .groupBy(expr(
          "CAST(CAST(CAST(ts AS TIMESTAMP) AS LONG) div 21600 * 21600" +
            " AS BIGINT)").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("k"))
      val t = b.agg((sum(col("k")) / sum(col("n")).cast("double")).as("p0"))
      val ph = col("k").cast("double") / col("n")
      val lb = (ph + z2 / (lit(2) * col("n"))
        - lit(1.96) * sqrt(ph * (lit(1) - ph) / col("n")
          + z2 / (lit(4.0) * col("n") * col("n"))))
        ./(lit(1) + z2 / col("n"))
      b.join(broadcast(t), lit(true))
        .withColumn("lb", lb)
        .filter(col("lb") > col("p0"))
        .select(col("bucket"), col("n").cast("long").as("n_events"),
          col("k").cast("long").as("n_errors"),
          round(ph, 6).as("err_rate"),
          round(col("lb"), 6).as("wilson_lb"))
        .orderBy(col("bucket"))
    },

    // Rolling 28-day view↔purchase correlation — the co-movement monitor
    // that catches a tracking break (views flow, purchases flatline →
    // correlation collapses) where either single series looks healthy.
    // Per active day: Pearson r over the trailing 28 active days of the
    // (daily views, daily purchases) pairs, from integer sufficient sums
    //   r = (nΣvp − ΣvΣp) / (√(nΣv²−(Σv)²)·√(nΣp²−(Σp)²)),
    // NULL while variance is degenerate (fewer than 3 days or a constant
    // series). Scale shape: the corpus reduces once to the
    // calendar-bounded day frame; every rolling window is a broadcast
    // band self-join on that bounded frame (the q206 rolling-sketch
    // economics) — fact rows never feed a window function.
    Q("q237_rolling_corr",
      """WITH days AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS p
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT a.day, count(*) AS n,
        |         CAST(sum(b.v) AS BIGINT) AS sv,
        |         CAST(sum(b.p) AS BIGINT) AS sp,
        |         sum(CAST(b.v AS HUGEINT) * b.v) AS svv,
        |         sum(CAST(b.p AS HUGEINT) * b.p) AS spp,
        |         sum(CAST(b.v AS HUGEINT) * b.p) AS svp
        |  FROM days a JOIN days b
        |    ON b.day BETWEEN a.day - 27 AND a.day
        |  GROUP BY 1)
        |SELECT day, CAST(n AS BIGINT) AS n_win,
        |       CASE WHEN n >= 3 AND n * svv > sv * sv AND n * spp > sp * sp
        |            THEN round((n * svp - sv * sp)
        |                       / (sqrt(CAST(n * svv - sv * sv AS DOUBLE))
        |                          * sqrt(CAST(n * spp - sp * sp AS DOUBLE))),
        |                       6)
        |            END AS corr_vp
        |FROM w ORDER BY day""".stripMargin) { (s, d) =>
      val days = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("v"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("p"))
        // ckpt(a): both band-join sides; lazy plan rescans events
        .eagerCkpt
      val b = days.select(col("day").as("bday"), col("v"), col("p"))
      val w = days.select(col("day").as("day"))
        .join(broadcast(b),
          col("bday") >= date_sub(col("day"), 27) &&
            col("bday") <= col("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast("long").as("sv"),
          sum(col("p")).cast("long").as("sp"),
          // daily counts scale linearly with SF, so their squared sums
          // scale quadratically — DECIMAL(38,0) / HUGEINT accumulators
          // keep the sufficient sums exact at any SF.
          sum(col("v").cast("decimal(19,0)") * col("v")).as("svv"),
          sum(col("p").cast("decimal(19,0)") * col("p")).as("spp"),
          sum(col("v").cast("decimal(19,0)") * col("p")).as("svp"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val num = col("n") * col("svp") - dec(col("sv")) * col("sp")
      val dv = col("n") * col("svv") - dec(col("sv")) * col("sv")
      val dp = col("n") * col("spp") - dec(col("sp")) * col("sp")
      w.select(col("day"), col("n").cast("long").as("n_win"),
          when(col("n") >= 3 && dv > 0 && dp > 0,
            round(num / (sqrt(dv.cast("double")) * sqrt(dp.cast("double"))),
              6)).as("corr_vp"))
        .orderBy(col("day"))
    },

    // Funnel step hazards — the discrete-time cousin of q215's survival
    // curve applied to the view→click→purchase funnel: at each step, what
    // fraction of the users still "at risk" drops out? Step membership is
    // ORDERED (a click counts only after the user's first view, a
    // purchase only after that click), so the three flags come from one
    // per-user min-timestamp aggregate — one partial-aggregated scan, no
    // window, no join; hazards are exact-count ratios rounded at 6.
    Q("q247_funnel_hazard",
      """WITH u AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS tc0,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp0
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT user_id, tv,
        |         CASE WHEN tc0 >= tv THEN tc0 END AS tc,
        |         CASE WHEN tp0 >= tv AND tp0 >= tc0 AND tc0 >= tv
        |              THEN tp0 END AS tp
        |  FROM u WHERE tv IS NOT NULL),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n1,
        |         CAST(count(tc) AS BIGINT) AS n2,
        |         CAST(count(tp) AS BIGINT) AS n3
        |  FROM f)
        |SELECT step, n_at_risk, n_converted,
        |       round(1 - CAST(n_converted AS DOUBLE) / n_at_risk, 6)
        |         AS hazard
        |FROM (
        |  SELECT 1 AS step, n1 AS n_at_risk, n2 AS n_converted FROM s
        |  UNION ALL SELECT 2, n2, n3 FROM s)
        |ORDER BY step""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp0"))
        .filter(col("tv").isNotNull)
        .select(col("tv"),
          when(col("tc0") >= col("tv"), col("tc0")).as("tc"),
          when(col("tp0") >= col("tv") && col("tp0") >= col("tc0") &&
            col("tc0") >= col("tv"), col("tp0")).as("tp"))
      val t = u.agg(count(lit(1)).cast("long").as("n1"),
        count(col("tc")).cast("long").as("n2"),
        count(col("tp")).cast("long").as("n3"))
      val s1 = t.select(lit(1).as("step"), col("n1").as("n_at_risk"),
        col("n2").as("n_converted"))
      val s2 = t.select(lit(2).as("step"), col("n2").as("n_at_risk"),
        col("n3").as("n_converted"))
      s1.unionByName(s2)
        .select(col("step"), col("n_at_risk"), col("n_converted"),
          round(lit(1) - col("n_converted").cast("double")
            / col("n_at_risk"), 6).as("hazard"))
        .orderBy(col("step"))
    },

    // Double-charge detection — the payments-ops twin-transaction screen:
    // two purchases by the SAME user for the SAME exact amount within 10
    // minutes are a refund case waiting to happen (retry storms, double
    // clicks, replayed webhooks). The join keys on (user, exact cents) —
    // a hash join whose key carries the shuffle — and the 10-minute
    // predicate rides as a residual band filter inside each joined
    // group; event-id ordering dedups the pair orientation. At 100 TB
    // this is the bucketable q58 shape: amounts and user ids co-partition
    // both sides, no near-cartesian anywhere.
    Q("q249_double_charges",
      """WITH p AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (
        |  SELECT a.user_id, a.cents, a.event_id AS id_a, b.event_id AS id_b
        |  FROM p a JOIN p b
        |    ON a.user_id = b.user_id AND a.cents = b.cents
        |   AND a.event_id < b.event_id
        |   AND abs(CAST(floor(epoch(b.ts)) AS BIGINT)
        |           - CAST(floor(epoch(a.ts)) AS BIGINT)) <= 600)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS at_risk_cents,
        |       CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT)
        |         AS pair_checksum
        |FROM d""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        // ckpt(a): both self-join sides; lazy plan rescans events
        .eagerCkpt
      val a = p.toDF("user_id", "id_a", "sec_a", "cents")
      val b = p.toDF("user_id", "id_b", "sec_b", "cents")
      a.join(b, Seq("user_id", "cents"))
        .filter(col("id_a") < col("id_b") &&
          abs(col("sec_b") - col("sec_a")) <= 600)
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          coalesce(sum(col("cents")), lit(0L)).cast("long")
            .as("at_risk_cents"),
          coalesce(sum(col("id_a") + col("id_b")), lit(0L)).cast("long")
            .as("pair_checksum"))
    },

    // DAU/MAU stickiness — the growth metric every product review opens
    // with: per month, how much of the monthly audience shows up on an
    // average day? avg(DAU)/MAU in exact counts (Σ daily distinct users ÷
    // active days ÷ monthly distinct users), with the subtlety handled
    // explicitly: the DAU numerator double-counts multi-day users BY
    // DESIGN — that is what makes the ratio a frequency measure. Two
    // partial-aggregated reductions (per-day, per-month distincts) over
    // calendar-bounded frames; no window.
    Q("q251_stickiness",
      """WITH dau AS (
        |  SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS mo,
        |         CAST(ts AS DATE) AS day,
        |         count(DISTINCT user_id) AS dau
        |  FROM events GROUP BY 1, 2, 3),
        |mau AS (
        |  SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS mo,
        |         count(DISTINCT user_id) AS mau
        |  FROM events GROUP BY 1, 2),
        |da AS (
        |  SELECT y, mo, CAST(sum(dau) AS BIGINT) AS dau_sum,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM dau GROUP BY 1, 2)
        |SELECT da.y, da.mo, da.n_days, da.dau_sum,
        |       CAST(mau.mau AS BIGINT) AS mau,
        |       round(CAST(da.dau_sum AS DOUBLE) / da.n_days / mau.mau, 6)
        |         AS stickiness
        |FROM da JOIN mau ON da.y = mau.y AND da.mo = mau.mo
        |ORDER BY da.y, da.mo""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(year(col("ts")).cast("int").as("y"),
          month(col("ts")).cast("int").as("mo"),
          col("ts").cast("date").as("day"), col("user_id"))
      val dau = ev.groupBy(col("y"), col("mo"), col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .groupBy(col("y"), col("mo"))
        .agg(sum(col("dau")).cast("long").as("dau_sum"),
          count(lit(1)).cast("long").as("n_days"))
      val mau = ev.groupBy(col("y"), col("mo"))
        .agg(countDistinct(col("user_id")).cast("long").as("mau"))
      dau.join(broadcast(mau), Seq("y", "mo"))
        .select(col("y"), col("mo"), col("n_days"), col("dau_sum"),
          col("mau"),
          round(col("dau_sum").cast("double") / col("n_days") / col("mau"),
            6).as("stickiness"))
        .orderBy(col("y"), col("mo"))
    },

    // Retention decay-rate fit — the one number a growth model needs from
    // the q93 cohort triangle: weekly retention r_k for offsets 1..8 over
    // OBSERVABLE cohorts only (a user counts toward week k's base only if
    // the corpus actually extends k weeks past their first day — the
    // right-censoring correction naive retention curves skip), then a
    // log-linear OLS fit ln r = a + b·k whose fitted curve is emitted per
    // row. Scale shape: the corpus reduces to per-user first-day and
    // distinct (user, day) frames once; the 8-row offset spine broadcasts
    // onto both; the fit is a single-row aggregate over 8 rows.
    Q("q256_retention_decay",
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events),
        |f AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd
        |      FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |        FROM events),
        |ks AS (SELECT CAST(unnest(range(1, 9)) AS INT) AS k),
        |base AS (
        |  SELECT k, count(*) AS n_base FROM f, ks, mx
        |  WHERE fd <= mxd - 7 * k GROUP BY 1),
        |a AS (
        |  SELECT ks.k, count(DISTINCT act.user_id) AS n_active
        |  FROM act JOIN f USING (user_id), ks, mx
        |  WHERE fd <= mxd - 7 * k
        |    AND day >= fd + 7 * k AND day < fd + 7 * k + 7
        |  GROUP BY 1),
        |r AS (
        |  SELECT base.k, n_base, coalesce(n_active, 0) AS n_active,
        |         coalesce(n_active, 0) / CAST(n_base AS DOUBLE) AS rr
        |  FROM base LEFT JOIN a ON base.k = a.k),
        |fit AS (
        |  SELECT count(*) AS n, sum(k) AS sk, sum(ln(rr)) AS sy,
        |         sum(CAST(k AS DOUBLE) * k) AS skk,
        |         sum(k * ln(rr)) AS sky
        |  FROM r WHERE n_active > 0)
        |SELECT r.k, CAST(n_base AS BIGINT) AS n_base,
        |       CAST(n_active AS BIGINT) AS n_active,
        |       round(rr, 6) AS retention,
        |       round(CASE WHEN n_active > 0 THEN exp(
        |         (sy - (n * sky - sk * sy) / (n * skk - sk * sk) * sk) / n
        |         + (n * sky - sk * sy) / (n * skk - sk * sk) * r.k) END, 6)
        |         AS fitted
        |FROM r, fit ORDER BY r.k""".stripMargin) { (s, d) =>
      val mx = Tables.events(s, d)
        .agg(max(col("ts").cast("date")).as("mxd"))
      val f = Tables.events(s, d).groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("fd"))
        // ckpt(a): base + active; lazy plan rescans events
        .eagerCkpt
      val act = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val ks = s.range(1, 9).select(col("id").cast("int").as("k"))
      val fk = f.join(broadcast(mx), lit(true))
        .join(broadcast(ks), lit(true))
        .filter(col("fd") <= date_sub(col("mxd"), lit(7) * col("k")))
      val base = fk.groupBy(col("k")).agg(count(lit(1)).as("n_base"))
      val active = act.join(fk.select(col("user_id"), col("fd"), col("k")),
          Seq("user_id"))
        .filter(col("day") >= date_add(col("fd"), lit(7) * col("k")) &&
          col("day") < date_add(col("fd"), lit(7) * col("k") + 7))
        .groupBy(col("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val r = base.join(active, Seq("k"), "left")
        .select(col("k"), col("n_base"),
          coalesce(col("n_active"), lit(0L)).as("n_active"))
        .withColumn("rr",
          col("n_active") / col("n_base").cast("double"))
        // ckpt(a): fit + output rows; lazy plan rescans events
        .eagerCkpt
      val fit = r.filter(col("n_active") > 0)
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          sum(log(col("rr"))).as("sy"),
          sum(col("k").cast("double") * col("k")).as("skk"),
          sum(col("k") * log(col("rr"))).as("sky"))
      val slope = (col("n") * col("sky") - col("sk") * col("sy")) /
        (col("n") * col("skk") - col("sk") * col("sk"))
      r.join(broadcast(fit), lit(true))
        .select(col("k"), col("n_base").cast("long").as("n_base"),
          col("n_active").cast("long").as("n_active"),
          round(col("rr"), 6).as("retention"),
          round(when(col("n_active") > 0,
            exp((col("sy") - slope * col("sk")) / col("n")
              + slope * col("k"))), 6).as("fitted"))
        .orderBy(col("k"))
    },

    // Shapley-value channel attribution (the game-theoretic successor to
    // q146's last-touch accounting): each converting user's PRE-PURCHASE
    // exposure set over the three assist channels {view, click, signup}
    // becomes a coalition; with v(S) = number of converters whose
    // exposure ⊆ S, the 3-player Shapley value has the closed form
    //   φ_i = Σ_S w(|S|)·[v(S∪{i}) − v(S)],  w(0)=w(2)=2/6, w(1)=1/6,
    // which expands over the exposure-mask histogram to
    //   6·φ_view = 6n₁ + 3n₃ + 3n₅ + 2n₇   (symmetric for click/signup),
    // so every φ is an EXACT integer count of sixths — emitted as a
    // BIGINT numerator next to the rounded value, and the three φ sum to
    // v(C) − v(∅) exactly (efficiency axiom, spec-pinned). Scale: ONE
    // per-user reduction to an 8-way exposure bitmask histogram (a
    // single conditional-sum row), then pure arithmetic — the corpus
    // never moves twice.
    Q("q260_shapley_attribution",
      """WITH u AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS tsg
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CASE WHEN tv < tp THEN 1 ELSE 0 END
        |         + CASE WHEN tc < tp THEN 2 ELSE 0 END
        |         + CASE WHEN tsg < tp THEN 4 ELSE 0 END AS mask
        |  FROM u WHERE tp IS NOT NULL),
        |h AS (
        |  SELECT CAST(sum(CASE WHEN mask = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN mask = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN mask = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN mask = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |         CAST(sum(CASE WHEN mask = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |         CAST(sum(CASE WHEN mask = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        |         CAST(sum(CASE WHEN mask = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n6,
        |         CAST(sum(CASE WHEN mask = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n7
        |  FROM m),
        |phi AS (
        |  SELECT 'view' AS channel,
        |         6 * n1 + 3 * n3 + 3 * n5 + 2 * n7 AS sixths,
        |         n1 + n2 + n3 + n4 + n5 + n6 + n7 + n0 AS n_conv FROM h
        |  UNION ALL
        |  SELECT 'click', 6 * n2 + 3 * n3 + 3 * n6 + 2 * n7,
        |         n1 + n2 + n3 + n4 + n5 + n6 + n7 + n0 FROM h
        |  UNION ALL
        |  SELECT 'signup', 6 * n4 + 3 * n5 + 3 * n6 + 2 * n7,
        |         n1 + n2 + n3 + n4 + n5 + n6 + n7 + n0 FROM h)
        |SELECT channel, CAST(sixths AS BIGINT) AS phi_sixths,
        |       round(sixths / 6.0, 6) AS phi,
        |       CAST(n_conv AS BIGINT) AS n_converters
        |FROM phi ORDER BY channel""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
          min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc"),
          min(when(col("event_type") === "signup", col("ts"))).as("tsg"))
        .filter(col("tp").isNotNull)
        .select((when(col("tv") < col("tp"), 1).otherwise(0)
          + when(col("tc") < col("tp"), 2).otherwise(0)
          + when(col("tsg") < col("tp"), 4).otherwise(0)).as("mask"))
      def nm(i: Int) =
        sum(when(col("mask") === i, 1L).otherwise(0L)).cast("long").as(s"n$i")
      val h = u.agg(nm(0), nm(1), nm(2), nm(3), nm(4), nm(5), nm(6), nm(7))
      val nConv = (col("n0") + col("n1") + col("n2") + col("n3") + col("n4")
        + col("n5") + col("n6") + col("n7")).as("n_conv")
      def row(name: String, sixths: org.apache.spark.sql.Column) =
        h.select(lit(name).as("channel"), sixths.as("sixths"), nConv)
      val view = row("view", lit(6) * col("n1") + lit(3) * col("n3")
        + lit(3) * col("n5") + lit(2) * col("n7"))
      val click = row("click", lit(6) * col("n2") + lit(3) * col("n3")
        + lit(3) * col("n6") + lit(2) * col("n7"))
      val signup = row("signup", lit(6) * col("n4") + lit(3) * col("n5")
        + lit(3) * col("n6") + lit(2) * col("n7"))
      view.unionByName(click).unionByName(signup)
        .select(col("channel"), col("sixths").cast("long").as("phi_sixths"),
          round(col("sixths") / 6.0, 6).as("phi"),
          col("n_conv").cast("long").as("n_converters"))
        .orderBy(col("channel"))
    }
  )
}
