package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Round-3 operator families extending SURVEY.md §2 coverage: range/theta
  * joins, GROUPING SETS, unpivot (wide→long), map-typed columns, explicit
  * skew salting, date arithmetic, sketch-accuracy property checks
  * (Greenwald–Khanna quantiles, frequent-items), and value-based RANGE
  * window frames. All stock `org.apache.spark.sql` — no custom Catalyst
  * needed for any of these.
  *
  * Scale notes are per query; the common theme is that every join here
  * keeps an equi component (range predicates ride on top of a hash/sort
  * key), so nothing degenerates to a nested-loop cross product at 100 TB.
  */
object Advanced {

  val queries: Seq[Q] = Seq(

    // Range/theta join (SURVEY.md §2.3 extension): views within the hour
    // preceding each purchase by the same user. The equi component
    // (user_id) carries the shuffle; the time-range predicate is evaluated
    // inside each joined group — no BroadcastNestedLoopJoin anywhere in the
    // plan. At 100 TB this is the bucketable shape: both sides co-partition
    // on user_id and the range filter stays local.
    Q("q58_range_join",
      """SELECT p.event_id AS purchase_id,
        |       count(v.ts) AS n_views,
        |       round(coalesce(sum(v.value), 0), 2) AS views_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("value").as("v_value"))
      p.join(v,
          col("p_user") === col("v_user") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") < col("p_ts"),
          "left")
        .groupBy(col("purchase_id"))
        .agg(
          count(col("v_ts")).as("n_views"),
          round(coalesce(sum(col("v_value")), lit(0.0)), 2).as("views_value"))
        .orderBy(col("purchase_id"))
    },

    // GROUPING SETS beyond rollup/cube (q20/q45): explicitly chosen
    // grouping combinations — per-flag, per-status, and grand total — in
    // ONE shuffle (map-side Expand tags each row with its grouping id).
    Q("q59_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("total_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // Unpivot (wide→long), the inverse of q46's pivot: per-flag aggregate
    // columns melt into (metric, val) rows map-side — no shuffle beyond the
    // feeding aggregation. Oracle replays the melt as UNION ALL.
    Q("q60_unpivot",
      """WITH w AS (
        |  SELECT l_returnflag,
        |         round(sum(l_quantity), 2) AS sum_qty,
        |         round(sum(l_extendedprice), 2) AS sum_price,
        |         round(avg(l_discount), 6) AS avg_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, val FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', sum_price FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'avg_disc', avg_disc FROM w)
        |ORDER BY l_returnflag, metric""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
          "metric", "val")
        .orderBy(col("l_returnflag"), col("metric"))
    },

    // Map-typed columns (SURVEY.md §1 extension): parse the JSON props into
    // map<string,int>, extend it with a computed entry (map_concat + map),
    // explode to key/value rows, aggregate per key. The test corpus carries
    // one JSON key ('k'); the oracle enumerates the key universe explicitly
    // since DuckDB lacks a map-explode over JSON.
    Q("q61_map_functions",
      """WITH kv AS (
        |  SELECT 'etype_len' AS k, CAST(length(event_type) AS INT) AS v FROM events
        |  UNION ALL
        |  SELECT 'k' AS k, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS v
        |  FROM events)
        |SELECT k, count(*) AS n, min(v) AS min_v, max(v) AS max_v,
        |       round(avg(v), 4) AS avg_v
        |FROM kv WHERE v IS NOT NULL GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        // null/unparseable props: from_json yields null and map_concat(null,…)
        // would null the whole map, dropping the row (and its etype_len entry)
        // where the oracle's UNION ALL keeps it — coalesce to an empty map so
        // the computed entry always survives. Both sides then drop null
        // VALUES (oracle: WHERE v IS NOT NULL + TRY_CAST): a missing map key
        // emits no row in Spark while the oracle's UNION ALL branch emits a
        // null-valued one, and counting only parsed values makes the two
        // formulations agree for null/missing/non-int props, not just on a
        // corpus where every event parses
        .select(explode(map_concat(
          coalesce(from_json(col("props"), "map<string,int>",
            Map.empty[String, String]), typedLit(Map.empty[String, Int])),
          map(lit("etype_len"), length(col("event_type")))))
          .as(Seq("k", "v")))
        .filter(col("v").isNotNull)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), round(avg(col("v")), 4).as("avg_v"))
        .orderBy(col("k"))
    },

    // Explicit skew salting (SURVEY.md §8 "bucketed co-located joins / skew
    // salting", now driver-checked): the fact side spreads each join key
    // over 8 salt buckets (deterministic salt from l_linenumber), the other
    // side replicates 8×, and the join runs on (key, salt) — a hot orderkey
    // lands on 8 reducers instead of stalling one. The aggregate is
    // salt-invariant, so the oracle is the PLAIN join — same result, skew-
    // proof plan. (AQE skew-join split does this adaptively; the salt form
    // is the portable, planner-independent pattern.)
    Q("q62_salted_join",
      """SELECT o.o_orderpriority,
        |       count(*) AS n_items,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val salts = 8
      // salt from a HASH of the line identity, not l_linenumber mod 8:
      // l_linenumber only takes values 1..7, so the plain mod never fills
      // bucket 0 — 1/8 of the replicated build side would be dead weight
      // and a hot key would spread over 7 reducers, not 8
      val li = Tables.lineitem(s, d)
        .withColumn("l_salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("o_salt", explode(array((0 until salts).map(lit): _*)))
      li.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_salt") === col("o_salt"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // Date arithmetic (F-family extension): datediff vs an epoch, month
    // boundaries (last_day / trunc), month offsets (add_months), quarters —
    // aggregated per (year, quarter) for a compact deterministic result.
    Q("q63_date_arith",
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od FROM orders)
        |SELECT CAST(year(od) AS INT) AS yr, CAST(quarter(od) AS INT) AS qtr,
        |       count(*) AS n,
        |       CAST(min(date_diff('day', DATE '1995-01-01', od)) AS INT) AS min_dd,
        |       CAST(max(date_diff('day', DATE '1995-01-01', od)) AS INT) AS max_dd,
        |       count(DISTINCT last_day(od)) AS n_month_ends,
        |       count(DISTINCT date_trunc('month', od)) AS n_months,
        |       CAST(min(od + INTERVAL 1 MONTH) AS DATE) AS min_plus_month
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("od"))
        .select(
          year(col("od")).as("yr"), quarter(col("od")).as("qtr"),
          datediff(col("od"), lit("1995-01-01").cast("date")).as("dd"),
          last_day(col("od")).as("eom"),
          trunc(col("od"), "month").as("som"),
          add_months(col("od"), 1).as("plus_m"))
        .groupBy(col("yr"), col("qtr"))
        .agg(
          count(lit(1)).as("n"),
          min(col("dd")).as("min_dd"), max(col("dd")).as("max_dd"),
          countDistinct(col("eom")).as("n_month_ends"),
          countDistinct(col("som")).as("n_months"),
          min(col("plus_m")).as("min_plus_month"))
        .orderBy(col("yr"), col("qtr"))
    },

    // Greenwald–Khanna sketch accuracy (the 100 TB path for q11's exact
    // quantiles — single pass, mergeable, no sort). Sketch output is
    // engine-specific → the oracle-checked contract is the PROPERTY that
    // each approxQuantile(relErr=0.01) lands within the exact p±0.02
    // quantile band (2× the configured rank-error bound).
    Q("q64_gk_quantile",
      """SELECT CAST(1 AS BOOLEAN) AS q25_ok, CAST(1 AS BOOLEAN) AS q50_ok,
        |       CAST(1 AS BOOLEAN) AS q75_ok
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val approx = li.stat.approxQuantile(
        "l_extendedprice", Array(0.25, 0.50, 0.75), 0.01)
      val bands = graft.pipeline.Eda.exactQuantiles(li, "l_extendedprice",
        Seq(0.23, 0.27, 0.48, 0.52, 0.73, 0.77))
      val ok = approx.zipWithIndex.map { case (a, i) =>
        a >= bands(2 * i) && a <= bands(2 * i + 1)
      }
      s.range(1).select(
        lit(ok(0)).as("q25_ok"), lit(ok(1)).as("q50_ok"), lit(ok(2)).as("q75_ok"))
    },

    // Frequent-items sketch (heavy hitters, single pass, mergeable — the
    // scale path for "which values dominate this column"). The sketch
    // returns a SUPERSET of the true heavy hitters (false positives allowed,
    // false negatives not) → the property checked is that every value with
    // true frequency > 25% appears in freqItems(support=0.25).
    Q("q65_freq_items",
      """SELECT CAST(1 AS BOOLEAN) AS heavy_hitters_covered
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val items = li.stat.freqItems(Array("l_returnflag"), 0.25)
        .head().getSeq[String](0).toSet
      // exact per-value counts; n derives from their sum (no separate
      // full-table count job — the flag column is low-cardinality)
      val counts = li.groupBy(col("l_returnflag")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val n = counts.map(_._2).sum
      val heavy = counts.collect { case (v, c) if c > n * 0.25 => v }
      s.range(1).select(lit(heavy.forall(items.contains)).as("heavy_hitters_covered"))
    },

    // Deterministic hash-based train/test assignment — the production
    // alternative to q21's seeded randomSplit: membership depends only on
    // the key (first hex nibble of md5 < 'd' ⇒ 13/16 ≈ 81% train), so the
    // split is reproducible across engines, partition layouts and reruns,
    // and co-partitions with any other table split the same way. Fully
    // oracle-checkable, unlike RNG-based splits.
    Q("q68_hash_split",
      """SELECT CASE WHEN substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < 'd'
        |            THEN 'train' ELSE 'test' END AS split,
        |       count(*) AS n,
        |       round(avg(l_extendedprice), 4) AS avg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("split",
          when(substring(md5(col("l_orderkey").cast("string").cast("binary")), 1, 1) < "d",
            "train").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), round(avg(col("l_extendedprice")), 4).as("avg_price"))
        .orderBy(col("split"))
    },

    // Per-group exact quantiles (grouped A4/A5): exact interpolating
    // percentile per source — group cardinality is small so the exact agg
    // is safe; the 100 TB path for high-cardinality groups is
    // percentile_approx (q64 proves its error bound).
    Q("q71_group_quantiles",
      """SELECT source,
        |       round(quantile_cont(n_chars, 0.5), 2) AS p50,
        |       round(quantile_cont(n_chars, 0.9), 2) AS p90,
        |       count(*) AS n
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 2).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 2).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("source"))
    },

    // Full- and right-outer joins (completing the join family: inner q03,
    // left q07, semi q05, anti q06, asof q50, range q58). One side is a
    // literal segment table with rows that can't match, so unmatched rows
    // on BOTH sides are deterministic at every scale factor.
    Q("q72_outer_joins",
      """WITH c AS (SELECT c_mktsegment AS seg, count(*) AS n_cust
        |           FROM customer GROUP BY 1),
        |v(seg2, pri) AS (VALUES ('AUTOMOBILE', 1), ('BUILDING', 2), ('ORBITAL', 9)),
        |f AS (SELECT coalesce(c.seg, v.seg2) AS seg,
        |             coalesce(n_cust, -1) AS n_cust, coalesce(pri, -1) AS pri
        |      FROM c FULL OUTER JOIN v ON c.seg = v.seg2),
        |r AS (SELECT coalesce(c.seg, v.seg2) AS seg,
        |             coalesce(n_cust, -1) AS n_cust, coalesce(pri, -1) AS pri
        |      FROM c RIGHT JOIN v ON c.seg = v.seg2)
        |SELECT 'full' AS op, seg, n_cust, pri FROM f
        |UNION ALL
        |SELECT 'right' AS op, seg, n_cust, pri FROM r
        |ORDER BY op, seg""".stripMargin) { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_cust"))
      val v = Seq(("AUTOMOBILE", 1), ("BUILDING", 2), ("ORBITAL", 9))
        .toDF("seg2", "pri")
      def shape(joined: org.apache.spark.sql.DataFrame, op: String) =
        joined.select(lit(op).as("op"),
          coalesce(col("seg"), col("seg2")).as("seg"),
          coalesce(col("n_cust"), lit(-1L)).as("n_cust"),
          coalesce(col("pri"), lit(-1)).as("pri"))
      shape(c.join(v, col("seg") === col("seg2"), "full_outer"), "full")
        .union(shape(c.join(v, col("seg") === col("seg2"), "right_outer"), "right"))
        .orderBy(col("op"), col("seg"))
    },

    // Window navigation functions (first/last/nth value): per-segment
    // extremes attached to every customer row, aggregated compactly. The
    // frame must be the FULL partition (unbounded both ways) — last_value
    // over the default running frame would just echo the current row.
    Q("q73_window_navigation",
      """WITH w AS (
        |  SELECT c_mktsegment,
        |         first_value(c_acctbal) OVER win AS first_bal,
        |         last_value(c_acctbal) OVER win AS last_bal,
        |         nth_value(c_acctbal, 3) OVER win AS third_bal
        |  FROM customer
        |  WINDOW win AS (PARTITION BY c_mktsegment
        |                 ORDER BY c_acctbal, c_custkey
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT c_mktsegment, count(*) AS n,
        |       round(min(first_bal), 2) AS min_bal,
        |       round(max(last_bal), 2) AS max_bal,
        |       round(min(third_bal), 2) AS third_bal
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_mktsegment"),
          first(col("c_acctbal")).over(win).as("first_bal"),
          last(col("c_acctbal")).over(win).as("last_bal"),
          nth_value(col("c_acctbal"), 3).over(win).as("third_bal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(min(col("first_bal")), 2).as("min_bal"),
          round(max(col("last_bal")), 2).as("max_bal"),
          round(min(col("third_bal")), 2).as("third_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // Space-Saving top-k sketch (custom typed Aggregator, bounded state,
    // mergeable — the distributed heavy-hitters aggregate for columns whose
    // exact group-count no longer fits). With k ≥ the column's cardinality
    // no eviction happens and the sketch IS the exact count (err = 0),
    // which is what makes a DuckDB hash-oracle possible here; the
    // approximation behavior under k < cardinality and the upper/lower
    // bound guarantees are pinned in SpaceSavingSpec on skewed fixtures.
    Q("q74_topk_sketch",
      """SELECT l_returnflag AS value, count(*) AS est, CAST(0 AS BIGINT) AS err
        |FROM lineitem GROUP BY 1 ORDER BY est DESC, value""".stripMargin) { (s, d) =>
      val topk = udaf(new graft.functions.SpaceSavingTopK(8),
        org.apache.spark.sql.Encoders.STRING)
      Tables.lineitem(s, d)
        .agg(topk(col("l_returnflag")).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e._1").as("value"), col("e._2").as("est"), col("e._3").as("err"))
        .orderBy(desc("est"), asc("value"))
    },

    // Per-GROUP heavy hitters: the same Space-Saving Aggregator as a
    // grouped aggregate — one bounded, mergeable sketch per event_type, the
    // per-domain vocabulary/heavy-hitter shape a 100 TB corpus needs (the
    // global q74 sketch can't answer "top users per event class"). The
    // sketch state merges map-side like any partial aggregate, so the
    // shuffle carries one k-bounded counter map per (partition, group), not
    // raw rows. k=2048 ≥ per-group user cardinality at every test SF, so
    // the sketch degenerates to exact counts (err=0) and a DuckDB hash
    // oracle exists; sub-cardinality approximation bounds are pinned in
    // SpaceSavingSpec.
    Q("q85_grouped_topk",
      """WITH g AS (SELECT event_type, CAST(user_id AS VARCHAR) AS value,
        |                  count(*) AS est
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                ORDER BY est DESC, value) AS rn FROM g)
        |SELECT event_type, rn, value, est, CAST(0 AS BIGINT) AS err
        |FROM r WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin) { (s, d) =>
      val topk = udaf(new graft.functions.SpaceSavingTopK(2048),
        org.apache.spark.sql.Encoders.STRING)
      val perGroup = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(topk(col("user_id").cast("string")).as("sk"))
        .select(col("event_type"), explode(col("sk")).as("e"))
        .select(col("event_type"), col("e._1").as("value"),
          col("e._2").as("est"), col("e._3").as("err"))
      val rank = Window.partitionBy(col("event_type"))
        .orderBy(desc("est"), asc("value"))
      perGroup
        .withColumn("rn", row_number().over(rank))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("value"), col("est"),
          col("err"))
        .orderBy(col("event_type"), col("rn"))
    },

    // Value-based RANGE window frame (vs the ROWS frames of q08/q39): each
    // event's trailing-hour sum/count over (user, epoch-second) — frame
    // bounds are VALUES, so same-second peers are excluded identically in
    // both engines regardless of tie order. One shuffle on user_id + one
    // sort, exactly like any ordered window at scale.
    Q("q66_range_frame",
      """SELECT event_id, user_id,
        |       round(coalesce(sum(value) OVER w, 0), 2) AS hour_sum,
        |       count(*) OVER w AS hour_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          round(coalesce(sum(col("value")).over(w), lit(0.0)), 2).as("hour_sum"),
          count(lit(1)).over(w).as("hour_n"))
        .orderBy(col("event_id"))
    },

    // Data-quality CONSTRAINT AUDIT (the Deequ/Great-Expectations shape):
    // the checks a pipeline gates ingest on — row count, null counts,
    // primary-key uniqueness, value-range bounds, referential integrity —
    // computed as ONE single-pass aggregate over the fact table (count /
    // null-count / distinct-PK / min / max all share the scan) plus one
    // keyed anti join for orphans. At 100 TB this is the nightly table
    // health report: every check is an aggregate, nothing collects, and
    // the orphan probe stays a shuffle-keyed anti join (bloom-filter
    // reducible, see ScalePatternsSpec).
    Q("q97_quality_audit",
      """SELECT l.n_rows, l.n_null_qty, l.n_rows - l.n_pk AS n_pk_dups,
        |       l.qmin >= 1 AND l.qmax <= 50 AS qty_range_ok,
        |       l.dmin >= 0 AND l.dmax <= 0.1 AS disc_range_ok,
        |       o.n_orphans
        |FROM (SELECT count(*) AS n_rows,
        |             count(*) - count(l_quantity) AS n_null_qty,
        |             count(DISTINCT (l_orderkey, l_linenumber)) AS n_pk,
        |             min(l_quantity) AS qmin, max(l_quantity) AS qmax,
        |             min(l_discount) AS dmin, max(l_discount) AS dmax
        |      FROM lineitem) l
        |CROSS JOIN (SELECT count(*) AS n_orphans FROM lineitem li
        |            WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                              WHERE o.o_orderkey = li.l_orderkey)) o
        |""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val stats = li.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("l_quantity"))).as("n_null_qty"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_pk"),
        min(col("l_quantity")).as("qmin"), max(col("l_quantity")).as("qmax"),
        min(col("l_discount")).as("dmin"), max(col("l_discount")).as("dmax"))
      val orphans = li.select("l_orderkey")
        .join(Tables.orders(s, d).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      stats.crossJoin(orphans)
        .select(col("n_rows"), col("n_null_qty"),
          (col("n_rows") - col("n_pk")).as("n_pk_dups"),
          (col("qmin") >= 1 && col("qmax") <= 50).as("qty_range_ok"),
          (col("dmin") >= 0 && col("dmax") <= 0.1).as("disc_range_ok"),
          col("n_orphans"))
    },

    // SNAPSHOT DIFF — the CDC companion to q81's merge: given two table
    // versions keyed by primary key, classify every key as added / removed
    // / changed / unchanged via ONE full outer join (each side shuffles
    // once on the key; classification is map-side null/equality logic; the
    // result collapses to a 4-row report). v1 is a deterministic evolution
    // of orders (delete %13, re-price %7 by +5%, insert %17 re-keyed
    // +10M), so the oracle recomputes the identical diff from the base
    // table alone — a dropped class or a mis-joined key breaks the hash.
    Q("q98_snapshot_diff",
      """WITH v1 AS (
        |  SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
        |              ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |d AS (
        |  SELECT b.o_totalprice AS bp, v1.price AS np
        |  FROM orders b FULL JOIN v1 ON b.o_orderkey = v1.k)
        |SELECT CASE WHEN bp IS NULL THEN 'added'
        |            WHEN np IS NULL THEN 'removed'
        |            WHEN bp <> np THEN 'changed'
        |            ELSE 'unchanged' END AS verdict,
        |       count(*) AS n_keys
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val v1 = base.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.05)
            .otherwise(col("o_totalprice")).as("price"))
        .unionByName(base.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 10000000L).as("k"),
            col("o_totalprice").as("price")))
      base.join(v1, col("o_orderkey") === col("k"), "full_outer")
        .select(
          when(col("o_totalprice").isNull, "added")
            .when(col("price").isNull, "removed")
            .when(col("o_totalprice") =!= col("price"), "changed")
            .otherwise("unchanged").as("verdict"))
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("verdict"))
    },

    // Bloom-filter join pruning — the runtime row-level filter that saves a
    // 100 TB fact scan from shuffling rows whose keys cannot survive the
    // join: build a bloom over the (selective) dim side's join keys in one
    // distributed aggregate, ship the few-KB sketch to every fact-scan task
    // as a literal, and drop non-members BEFORE the join's exchange. This
    // mirrors Spark's own InjectRuntimeFilter pair (BloomFilterAggregate /
    // BloomFilterMightContain over xxhash64) but builds the filter
    // explicitly, so the pattern works on plans the optimizer's heuristics
    // skip. False positives only ever ADD rows back to the exact join that
    // follows, so the result is identical to the unfiltered join — which is
    // exactly what the oracle computes. PlanQualitySpec pins the
    // might_contain filter sitting on the lineitem scan.
    Q("q111_bloom_prune",
      """SELECT l.l_returnflag, count(*) AS n_items,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |         AS urgent_rev
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (s, d) =>
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
        .select("o_orderkey")
      val pruned = graft.functions.BloomPrune.filterByKeys(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"),
        col("l_orderkey"), urgent, col("o_orderkey"))
      pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("urgent_rev"))
        .orderBy(col("l_returnflag"))
    },

    // ROLLUP — the hierarchical third of the multi-grouping family (q45
    // CUBE, q59 GROUPING SETS): per (flag, status), per flag, grand total,
    // in ONE pass with map-side partial aggregation (the Expand operator
    // replicates each row once per grouping set before the partial agg, so
    // the exchange carries pre-reduced rows — three separate aggregates
    // would scan the fact three times).
    Q("q115_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total_price"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // Blocked fuzzy matching (record linkage): block on cheap equality
    // keys (brand × size), then — the round-15 scale fix — collapse each
    // block to its DISTINCT names with multiplicities before running the
    // quadratic comparator. The old row-level pair join was quadratic in
    // SF (block keys are a FIXED domain, so per-block row count grows
    // linearly with the corpus: measured 0.69 s sf0.1 → 19.7 s sf1,
    // 28.7×, and sf3 would have been ~9× that); the value domain is what
    // is actually bounded (64 part names at ANY SF — TPC-H composes them
    // from a fixed vocabulary), so the comparator now runs once per
    // distinct (block, name-pair) — ≤ |V|²/2 levenshteins per block,
    // CONSTANT in SF — and pair counts multiply back exactly:
    // cnt_x·cnt_y for x ≠ y (each unordered row pair appears once under
    // the oracle's partkey ordering), C(cnt,2) at distance 0 for x = y.
    // The SF-dependent cost left is the one scan feeding a map-side
    // combined groupBy. Output stays in exact-integer space (pair counts
    // + summed distances — avg is derivable, but a rounded rational would
    // be the one engine-divergence risk in the query). The comparator
    // keeps the threshold form (abandons a pair as soon as the running
    // distance exceeds 3, returning -1 — O(k·n) per pair, not O(m·n));
    // same kept set as the oracle's unbounded levenshtein <= 3.
    Q("q116_fuzzy_match",
      """SELECT a.p_brand AS brand, count(*) AS n_pairs,
        |       CAST(sum(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS sum_dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val g = Tables.part(s, d)
        .groupBy(col("p_brand"), col("p_size"), col("p_name"))
        .agg(count(lit(1)).as("cnt"))
      val a = g.toDF("p_brand", "p_size", "name_a", "cnt_a")
      val b = g.toDF("p_brand", "p_size", "name_b", "cnt_b")
      a.join(b, Seq("p_brand", "p_size"))
        // one row per unordered DISTINCT-NAME pair per block (g is unique
        // on (block, name)); the diagonal carries the same-name multiset
        .filter(col("name_a") <= col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 3))
        .filter(col("dist") >= 0)
        .withColumn("npairs",
          when(col("name_a") === col("name_b"),
            expr("cnt_a * (cnt_a - 1) div 2")) // C(cnt, 2), exact integer
            .otherwise(col("cnt_a") * col("cnt_b")))
        // a singleton diagonal (cnt = 1) is not a pair: without this, a
        // brand with zero qualifying pairs would surface as a (brand,0,0)
        // row the oracle's pair-level GROUP BY never emits
        .filter(col("npairs") > 0)
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(col("npairs")).cast("long").as("n_pairs"),
          sum(col("dist") * col("npairs")).cast("long").as("sum_dist"))
        .orderBy(col("brand"))
    },

    // Grouped sketch quantiles — percentile_approx per group: the mergeable
    // per-group KLL/GK-style sketch that replaces q71's exact sort-based
    // grouped quantiles when groups no longer fit a sort (each partition
    // folds its rows into a bounded sketch; sketches merge associatively in
    // the exchange — constant state per group at any row count). Property
    // contract (q64's pattern, per group): the sketch's p50 must land
    // inside the exact p45–p55 band computed in the SAME grouped pass;
    // n_docs is a real count the oracle recomputes.
    Q("q118_grouped_sketch",
      """SELECT source, count(*) AS n_docs, CAST(1 AS BOOLEAN) AS p50_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("ap"),
          expr("percentile(n_chars, 0.45)").as("lo"),
          expr("percentile(n_chars, 0.55)").as("hi"))
        .select(col("source"), col("n_docs"),
          col("ap").between(col("lo"), col("hi")).as("p50_ok"))
        .orderBy(col("source"))
    },

    // Winsorization — robust-statistics clipping: cap each group's values
    // at its own p05/p95 before averaging, so a handful of extreme rows
    // stop dominating the group mean (the feature-pipeline companion of
    // q12's outlier COUNTING). Same two-pass shape as q109: a
    // group-cardinality-sized threshold table computed once, broadcast
    // back, clip applied map-side — the corpus never shuffles for its own
    // thresholds. Clip counts are exact integers; both engines interpolate
    // type-7 quantiles (parity established by q71).
    Q("q121_winsorize",
      """WITH thr AS (
        |  SELECT l_returnflag AS flag,
        |         quantile_cont(l_extendedprice, 0.05) AS lo,
        |         quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag AS flag, count(*) AS n,
        |       CAST(sum(CASE WHEN l.l_extendedprice < t.lo THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clip_lo,
        |       CAST(sum(CASE WHEN l.l_extendedprice > t.hi THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clip_hi,
        |       round(avg(least(greatest(l.l_extendedprice, t.lo), t.hi)), 4)
        |         AS winsor_avg
        |FROM lineitem l JOIN thr t ON l.l_returnflag = t.flag
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
      val thr = li.groupBy(col("l_returnflag").as("flag"))
        .agg(expr("percentile(l_extendedprice, 0.05)").as("lo"),
          expr("percentile(l_extendedprice, 0.95)").as("hi"))
      li.join(broadcast(thr), col("l_returnflag") === col("flag"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") < col("lo")).cast("int")).cast("long")
            .as("n_clip_lo"),
          sum((col("l_extendedprice") > col("hi")).cast("int")).cast("long")
            .as("n_clip_hi"),
          round(avg(least(greatest(col("l_extendedprice"), col("lo")),
            col("hi"))), 4).as("winsor_avg"))
        .orderBy(col("flag"))
    },

    // Order-independent table checksum — the anti-entropy primitive: two
    // replicas of a 100 TB table are compared by ONE aggregate each (bit-
    // xor of per-row hashes folds associatively and commutatively, so the
    // digest is identical under any partitioning, row order, or merge
    // tree) instead of a sorted row-by-row diff. Verified in-engine: the
    // digest survives an adversarial repartition+sort-scramble, and flips
    // when a single row is perturbed. xor (not sum): immune to ANSI-mode
    // long-overflow and still detects any single-row difference.
    Q("q122_table_checksum",
      """SELECT count(*) AS n_rows,
        |       CAST(1 AS BOOLEAN) AS layout_invariant_ok,
        |       CAST(1 AS BOOLEAN) AS mutation_detected_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      def digest(df: org.apache.spark.sql.DataFrame) =
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(expr("bit_xor(h)").as("digest"), count(lit(1)).as("n"))
      val base = digest(li)
      val scrambled = digest(li.repartition(7, col("l_partkey"))
        .sortWithinPartitions(col("l_extendedprice")))
      // perturb the rows of the MIN (orderkey, linenumber) pair (one tiny
      // scalar job, the q48-style index-build pattern). NOTE: this corpus
      // does NOT keep that pair unique (~2% of keys duplicate at every SF),
      // but the xor digest still flips as long as the perturbed rows are
      // not byte-identical duplicates of each other (identical rows would
      // change identically and their hash flips cancel pairwise) — verified
      //: the corpus has zero full-row duplicates at sf0.001/0.01/0.1, and
      // the min pair is singleton at all three
      val target = li.agg(min(struct(col("l_orderkey"), col("l_linenumber")))
        .as("t")).head().getStruct(0)
      val mutated = digest(li.withColumn("l_quantity",
        when(col("l_orderkey") === target.get(0) &&
          col("l_linenumber") === target.get(1),
          col("l_quantity") + 1).otherwise(col("l_quantity"))))
      base.crossJoin(scrambled.toDF("digest2", "n2"))
        .crossJoin(mutated.toDF("digest3", "n3"))
        .select(col("n").as("n_rows"),
          (col("digest") === col("digest2") && col("n") === col("n2"))
            .as("layout_invariant_ok"),
          (col("digest") =!= col("digest3") && col("n") === col("n3"))
            .as("mutation_detected_ok"))
    },

    // Count-Min sketch — the point-frequency cousin of the sketch family
    // (HLL q49 distinct counts, GK q64/q118 quantiles, freqItems q65,
    // Space-Saving q74/q85 heavy hitters, bloom q111 membership): sublinear
    // state, one distributed pass, mergeable across partitions, answers
    // "how often does THIS key occur" with a one-sided guarantee
    // (never undercounts; overcounts by at most eps*N with probability
    // >= confidence). Checked in-engine against the exact counts of the
    // five hottest keys — both bounds, per key.
    Q("q125_count_min",
      """SELECT count(*) AS n_rows, 5 AS n_checked,
        |       CAST(1 AS BOOLEAN) AS never_undercounts_ok,
        |       CAST(1 AS BOOLEAN) AS eps_bound_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      val eps = 0.001
      val li = Tables.lineitem(s, d).select("l_partkey")
      val cms = li.stat.countMinSketch(col("l_partkey"), eps,
        confidence = 0.999, seed = 42)
      // exact counts of the five hottest keys (deterministic tie-break)
      val hot = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("l_partkey")).limit(5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val n = cms.totalCount()
      val lowerOk = hot.forall { case (k, t) => cms.estimateCount(k) >= t }
      val upperOk = hot.forall { case (k, t) =>
        cms.estimateCount(k) <= t + (eps * n).ceil.toLong
      }
      li.agg(count(lit(1)).as("n_rows"))
        .select(col("n_rows"), lit(5).as("n_checked"),
          lit(lowerOk).as("never_undercounts_ok"),
          lit(upperOk).as("eps_bound_ok"))
    },

    // Scale-safe global row numbering: a contiguous 1-based index in total
    // o_orderkey order WITHOUT the single-task global window. The naive
    // `row_number() OVER (ORDER BY k)` plans Exchange SinglePartition —
    // ONE task sorts the whole table, the definitional scale-killer (the
    // same trap as collect-based zipWithIndex). Instead
    // [[Ranks.globalIndex]]: range-repartition on the key, per-partition
    // ranks in a pid-partitioned window (fully parallel; the checkpoint
    // hides the range partitioning from the planner, so this costs one
    // extra — but parallel — hash exchange on pid), plus running-sum
    // block offsets over the one-row-per-pid counts (that tiny window is
    // the only SinglePartition in the plan) broadcast back. For a unique key
    // the result is independent of where sampling placed the range
    // boundaries: offset + local rank = global rank for ANY range-disjoint
    // partitioning, so the output is deterministic and the oracle
    // recomputes it with a plain ORDER BY window. The checksum multiplies
    // each index by a per-row key fingerprint, pinning the full
    // index-to-row alignment, not just contiguity.
    Q("q130_global_index",
      """WITH r AS (
        |  SELECT o_orderkey, o_custkey,
        |         row_number() OVER (ORDER BY o_orderkey) AS idx
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |       CAST(min(idx) AS BIGINT) AS min_idx,
        |       CAST(max(idx) AS BIGINT) AS max_idx,
        |       CAST(sum(idx * (o_custkey % 97)) AS BIGINT) AS align_checksum
        |FROM r""".stripMargin) { (s, d) =>
      Ranks.globalIndex(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey")), col("o_orderkey"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("idx")).cast("long").as("min_idx"),
          max(col("idx")).cast("long").as("max_idx"),
          sum(col("idx") * (col("o_custkey") % 97)).cast("long")
            .as("align_checksum"))
    },

    // Pre-join skew diagnostics — the planning pass a 100 TB run does
    // BEFORE picking a salting width (q62) or trusting AQE's skew split:
    // per-key row counts on both sides of the q114 attribution join
    // (view-events × purchase-events on user_id), the EXACT join output
    // cardinality Σ cnt_v·cnt_p (what the join will materialize — the
    // number that decides whether the plan is viable at all), the hottest
    // key, and how many keys exceed 1.5× the mean per-key output (the
    // salting candidates). Scale shape: both sides partial-aggregate
    // map-side, so the only shuffled payload is one row per distinct key;
    // the hottest key is a struct-min argmax in the SAME single-row
    // aggregate (no order-by limit pass); the hot-key threshold joins
    // back as a broadcast of one total row. The event rows themselves
    // never shuffle. All arithmetic is integer (1.5×mean as 2·est·n_keys
    // > 3·sum_est) — a FULL hash oracle.
    Q("q131_join_skew_stats",
      """WITH v AS (
        |  SELECT user_id, count(*) AS cnt_v FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT user_id, count(*) AS cnt_p FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |per AS (
        |  SELECT v.user_id, cnt_v * cnt_p AS est
        |  FROM v JOIN p USING (user_id)),
        |t AS (SELECT count(*) AS n_keys, sum(est) AS sum_est,
        |             max(est) AS max_est FROM per)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys,
        |       CAST(sum_est AS BIGINT) AS est_join_rows,
        |       CAST(max_est AS BIGINT) AS max_key_est,
        |       (SELECT min(user_id) FROM per, t WHERE est = max_est)
        |         AS hot_user,
        |       CAST((SELECT count(*) FROM per, t
        |             WHERE 2 * est * n_keys > 3 * sum_est) AS BIGINT)
        |         AS n_hot_keys
        |FROM t""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      def side(t: String, as: String) = ev
        .filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(count(lit(1)).as(as))
      // one row per key that appears on BOTH sides; reused by the totals
      // aggregate and the hot-key threshold scan
      val per = side("view", "cnt_v").join(side("purchase", "cnt_p"), "user_id")
        .select(col("user_id"), (col("cnt_v") * col("cnt_p")).as("est"))
        // ckpt(a): q131 totals + hot-key scan; lazy 1.3× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val totals = per.agg(
        count(lit(1)).as("n_keys"),
        sum(col("est")).cast("long").as("est_join_rows"),
        max(col("est")).cast("long").as("max_key_est"),
        // argmax with deterministic tie-break (max est, then min user):
        // the q70 struct-min fold — stays inside this single aggregate
        min(struct((-col("est")).as("neg"), col("user_id").as("u")))
          .as("best"))
      val hot = per.crossJoin(broadcast(
          totals.select(col("n_keys"), col("est_join_rows"))))
        .filter(lit(2) * col("est") * col("n_keys") >
          lit(3) * col("est_join_rows"))
        .agg(count(lit(1)).as("n_hot_keys"))
      totals
        .select(col("n_keys"), col("est_join_rows"), col("max_key_est"),
          col("best.u").as("hot_user"))
        .crossJoin(hot)
    },

    // Revenue concentration — the inequality profile (Lorenz statistics) a
    // marketplace reads before segmenting: exact Gini coefficient over
    // per-customer revenue plus top-1%/top-10% revenue shares. Gini uses
    // the rank identity G = (2·Σrankᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) on EXACT
    // cents — ties contribute identically under any tie order, so the
    // row_number tie-break never moves the sum. Ranking is
    // [[Ranks.globalIndex]] (range partitions + per-partition ranks +
    // broadcast block offsets): no per-customer row crosses a
    // SinglePartition exchange. The rank·cents sum grows QUADRATICALLY
    // with customer count (Σrk·m ≈ m̄·n²/2 ≈ 1.7e16 at sf1 → int64 gone
    // by ~sf23), so it accumulates in DECIMAL(38,0) / HUGEINT; it is only
    // ever read back as a double in the gini division. Floats appear only
    // in the 3 final divisions, identical operand grouping both engines.
    Q("q161_revenue_concentration",
      """WITH c AS (
        |  SELECT o_custkey AS ck,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT ck, m, row_number() OVER (ORDER BY m, ck) AS rk FROM c),
        |t AS (
        |  SELECT count(*) AS n, CAST(sum(m) AS BIGINT) AS total,
        |         sum(CAST(rk AS HUGEINT) * m) AS s
        |  FROM r),
        |s1 AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS top1_cents
        |       FROM r, t WHERE rk > n - n // 100),
        |s10 AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS top10_cents
        |        FROM r, t WHERE rk > n - n // 10)
        |SELECT n AS n_customers, total AS total_cents,
        |       top1_cents, top10_cents,
        |       round(CAST(top1_cents AS DOUBLE) / total, 6) AS top1_share,
        |       round(CAST(top10_cents AS DOUBLE) / total, 6) AS top10_share,
        |       round((2.0 * s - (CAST(n AS DOUBLE) + 1) * total) /
        |             (CAST(n AS DOUBLE) * total), 6) AS gini
        |FROM t, s1, s10""".stripMargin) { (s, d) =>
      val ranked = Ranks.globalIndex(Tables.orders(s, d)
          .groupBy(col("o_custkey").as("ck"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("m")), col("m"), col("ck"))
        .withColumnRenamed("idx", "rk")
      val t = ranked.agg(count(lit(1)).as("n"),
        sum(col("m")).cast("long").as("total"),
        sum(col("rk").cast("decimal(19,0)") * col("m")).as("s"))
      def topShare(div: Int, out: String) = ranked
        .filter(col("rk") > col("n") - expr(s"n div $div"))
        .agg(coalesce(sum(col("m")), lit(0L)).cast("long").as(out))
      t.crossJoin(topShare(100, "top1_cents"))
        .crossJoin(topShare(10, "top10_cents"))
        .select(col("n").as("n_customers"), col("total").as("total_cents"),
          col("top1_cents"), col("top10_cents"),
          round(col("top1_cents").cast("double") / col("total"), 6)
            .as("top1_share"),
          round(col("top10_cents").cast("double") / col("total"), 6)
            .as("top10_share"),
          round((lit(2.0) * col("s") -
              (col("n").cast("double") + 1) * col("total")) /
            (col("n").cast("double") * col("total")), 6).as("gini"))
    },

    // Skyline (Pareto frontier) preference query: the parts no buyer can
    // strictly improve on — cheaper-or-equal AND bigger-or-equal with one
    // strict. Prices compare in exact cents so dominance is identical
    // cross-engine. The all-pairs NOT EXISTS definition is quadratic; the
    // engine instead classifies MAP-SIDE against two suffix minima over
    // the per-size min-price table (domain-bounded, broadcast):
    //   dominated(p, s) ⇔ minPrice(size > s) ≤ p ∨ minPrice(size ≥ s) < p
    // — the q121 winsorize topology (tiny aggregate → broadcast → one
    // scan), so the fact table never self-joins and never sorts globally.
    // The oracle runs the independent quadratic definition.
    Q("q164_skyline",
      """WITH q AS (
        |  SELECT p_partkey, p_size,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS pc
        |  FROM part)
        |SELECT i.p_partkey, i.p_size, i.pc AS price_cents
        |FROM q i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM q j
        |  WHERE j.pc <= i.pc AND j.p_size >= i.p_size
        |    AND (j.pc < i.pc OR j.p_size > i.p_size))
        |ORDER BY i.p_size, i.pc, i.p_partkey""".stripMargin) { (s, d) =>
      val q = Tables.part(s, d).select(
        col("p_partkey"), col("p_size"),
        round(col("p_retailprice") * 100, 0).cast("long").as("pc"))
      // per-size minima: |distinct sizes| rows (value-domain-bounded, not
      // data-bounded) — the broadcastable reduction all else hangs off
      val sz = q.groupBy(col("p_size").as("s")).agg(min(col("pc")).as("mn"))
      val bounds = sz.toDF("s", "mn")
        .join(broadcast(sz.toDF("s2", "mn2")), col("s2") >= col("s"))
        .groupBy(col("s"))
        .agg(min(when(col("s2") > col("s"), col("mn2"))).as("min_above"),
          min(col("mn2")).as("min_at_or_above"))
      q.join(broadcast(bounds), col("p_size") === col("s"))
        .filter((col("min_above").isNull || col("min_above") > col("pc")) &&
          col("min_at_or_above") >= col("pc"))
        .select(col("p_partkey"), col("p_size"), col("pc").as("price_cents"))
        .orderBy(col("p_size"), col("price_cents"), col("p_partkey"))
    },

    // Mergeable HLL sketches (Apache DataSketches via Spark's native
    // hll_sketch_agg family) — the distinct-count machinery a 100-TB
    // deployment actually standardizes on: per-segment sketches are tiny,
    // mergeable ACROSS segments without rescanning (unlike q19's exact
    // countDistinct, which must reshuffle raw keys to widen a segment),
    // and q49's approx_count_distinct gives an estimate but NOT a
    // mergeable artifact. Emits per-sample exact cardinalities (the
    // oracle recomputes them) plus sketch-quality booleans: the estimate
    // within 2% of exact, and the union sketch's estimate within 2% of
    // the exact union. (Union-estimate ≥ branch-estimate monotonicity is
    // deliberately NOT asserted: merging discards the HIP accumulator, so
    // the union's composite estimate can dip slightly below a branch's
    // HIP estimate even for identical sets — measured 1488 vs 1491 on
    // 1500 true uniques.) The shape under test is the aggregate → merge →
    // estimate pipeline itself.
    Q("q177_hll_cardinality",
      """SELECT event_type AS scope,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       TRUE AS est_ok
        |FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
        |UNION ALL
        |SELECT 'view_or_purchase',
        |       CAST(count(DISTINCT user_id) AS BIGINT), TRUE
        |FROM events WHERE event_type IN ('purchase', 'view')
        |ORDER BY scope""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_type"), col("user_id"))
      val per = e.groupBy(col("event_type").as("scope"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          hll_sketch_agg(col("user_id")).as("sk"))
      val perOut = per.select(col("scope"), col("n_exact"),
        (abs(hll_sketch_estimate(col("sk")).cast("double") - col("n_exact"))
          <= lit(0.02) * col("n_exact")).as("est_ok"))
      val uExact = e.agg(countDistinct(col("user_id")).as("n_exact"))
      val uOut = per
        .agg(hll_union_agg(col("sk")).as("sk"))
        .crossJoin(broadcast(uExact))
        .select(lit("view_or_purchase").as("scope"), col("n_exact"),
          (abs(hll_sketch_estimate(col("sk")).cast("double") - col("n_exact"))
            <= lit(0.02) * col("n_exact")).as("est_ok"))
      perOut.unionByName(uOut).orderBy(col("scope"))
    },

    // Recursive CTE (WITH RECURSIVE → UnionLoopExec, new in Spark 4) —
    // iterative closure expressed declaratively: every size-50 part walks
    // its synthetic ancestor chain node → node div 10 to the root, and the
    // per-depth census is aggregated over the closure. The recursion depth
    // is O(log maxKey) — ~7 levels at 100 TB key ranges — and each step is
    // a narrow projection of the frontier, so the loop's cost is the seed
    // cardinality times a bounded constant, not a quadratic closure. This
    // pins the engine's recursion machinery against DuckDB's reference
    // WITH RECURSIVE semantics (same anchor, same step, same termination).
    Q("q183_recursive_closure",
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS leaf, CAST(p_partkey AS BIGINT) AS node,
        |         0 AS depth
        |  FROM part WHERE p_size = 50
        |  UNION ALL
        |  SELECT leaf, node // 10, depth + 1 FROM anc WHERE node >= 10)
        |SELECT CAST(depth AS INT) AS depth,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(node) AS BIGINT) AS node_sum,
        |       CAST(count(DISTINCT node) AS BIGINT) AS n_distinct
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(col("p_partkey"), col("p_size"))
        .createOrReplaceTempView("part_q183")
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT p_partkey AS leaf, CAST(p_partkey AS BIGINT) AS node,
          |         0 AS depth
          |  FROM part_q183 WHERE p_size = 50
          |  UNION ALL
          |  SELECT leaf, node div 10, depth + 1 FROM anc WHERE node >= 10)
          |SELECT CAST(depth AS INT) AS depth,
          |       CAST(count(*) AS BIGINT) AS n_nodes,
          |       CAST(sum(node) AS BIGINT) AS node_sum,
          |       CAST(count(DISTINCT node) AS BIGINT) AS n_distinct
          |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
    },

    // Rolling 7-day distinct users via SKETCH MERGE — the window where
    // mergeable sketches (q177) earn their keep: exact rolling distinct
    // must re-scan every window's raw keys (7× the corpus), but per-day
    // HLL sketches build ONCE and each rolling window is a union of ≤7
    // tiny binaries — a bounded band join on the ≤|days| sketch frame
    // (broadcast). The exact rolling distinct IS also computed here, but
    // only as the in-query yardstick the oracle can recompute and the
    // 2%-band boolean grades the sketch against — a production rollup
    // would ship the sketch path alone.
    Q("q206_rolling_distinct",
      """WITH days AS (
        |  SELECT CAST(day(ts) AS INT) AS d, user_id FROM events),
        |w AS (
        |  SELECT a.d AS win_day,
        |         CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_exact
        |  FROM (SELECT DISTINCT d FROM days) a
        |  JOIN days b ON b.d BETWEEN a.d - 6 AND a.d
        |  GROUP BY 1)
        |SELECT win_day, n_exact, TRUE AS est_ok
        |FROM w ORDER BY win_day""".stripMargin) { (s, d) =>
      val days = Tables.events(s, d)
        .select(dayofmonth(col("ts")).cast("int").as("d"), col("user_id"))
      // per-day sketches + per-day exact sets reduced ONCE
      val perDay = days.groupBy(col("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val windows = perDay.select(col("d").as("win_day"))
      val merged = windows
        .join(broadcast(perDay),
          col("d") >= col("win_day") - 6 && col("d") <= col("win_day"))
        .groupBy(col("win_day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = days.alias("b")
        .join(broadcast(windows),
          col("d") >= col("win_day") - 6 && col("d") <= col("win_day"))
        .groupBy(col("win_day"))
        .agg(countDistinct(col("user_id")).cast("long").as("n_exact"))
      exact.join(broadcast(merged), "win_day")
        .select(col("win_day"), col("n_exact"),
          (abs(col("est").cast("double") - col("n_exact"))
            <= lit(0.02) * col("n_exact")).as("est_ok"))
        .orderBy(col("win_day"))
    },

    // Fuzzy catalog reconciliation by Jaro-Winkler — the record-linkage
    // companion to q116's edit-distance blocking: a bounded batch of
    // corrupted query names (vowel-stripped catalog entries — a
    // deterministic corruption both engines derive identically) is matched
    // back to its best candidate in the FULL catalog by the prefix-weighted
    // similarity record linkage standardized on (Winkler 1990). The scorer
    // is the native codegen'd expression graft.functions.JaroWinklerSim —
    // Spark has levenshtein but no Jaro-Winkler — pinned bit-for-bit to
    // DuckDB's jaro_winkler_similarity (JaroWinklerSpec + this oracle over
    // every scored pair). Scale shape = q34's bounded-query-slice contract
    // PLUS the q116 value-domain collapse (round 15): the ≤64-row query
    // batch broadcasts, and the catalog side first reduces to its
    // DISTINCT names with each name's minimum partkey (64 names at any
    // SF — a map-side combined groupBy, the only SF-dependent cost).
    // That representative is exact, not approximate: equal names score
    // identical sims, and the argmax breaks sim ties to the LOWER
    // candidate key, so no non-minimal partkey of a name can ever win —
    // the scorer then runs |queries|·|names| ≈ 4096 times, CONSTANT in
    // SF, where the old catalog-side scan ran it per row (12.8M sims at
    // sf1, 16.4 s measured — the board's last avoidable superlinear-
    // looking tail entry). The per-query argmax is a partial-aggregated
    // max-struct — similarity is rounded to 6 BEFORE the argmax so float
    // noise below the round grain can never flip a cross-engine tie
    // (ties break to the lower candidate key).
    Q("q216_jw_reconcile",
      """WITH q AS (
        |  SELECT p_partkey AS qk, translate(p_name, 'aeiou', '') AS qn
        |  FROM part WHERE p_partkey < 64),
        |s AS (
        |  SELECT qk, qn, p_partkey AS ck, p_name AS cn,
        |         round(jaro_winkler_similarity(qn, p_name), 6) AS sim
        |  FROM q, part),
        |b AS (
        |  SELECT qk, qn, ck, cn, sim,
        |         row_number() OVER (PARTITION BY qk
        |                            ORDER BY sim DESC, ck) AS rn
        |  FROM s)
        |SELECT CAST(qk AS BIGINT) AS q_partkey, qn AS query_name,
        |       CAST(ck AS BIGINT) AS match_partkey, cn AS match_name, sim
        |FROM b WHERE rn = 1 ORDER BY q_partkey""".stripMargin) { (s, d) =>
      import graft.functions.JaroWinklerSim.jaroWinkler
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      val q = p.filter(col("p_partkey") < 64)
        .select(col("p_partkey").as("qk"),
          translate(col("p_name"), "aeiou", "").as("qn"))
      // the value-domain collapse: one candidate row per distinct catalog
      // name, carrying the name's minimum partkey (the only partkey that
      // can win the lower-key tie-break among equal-sim equal-name rows)
      val cand = p.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("min_pk"))
      cand.join(broadcast(q), lit(true))
        .withColumn("sim", round(jaroWinkler(col("qn"), col("p_name")), 6))
        .groupBy(col("qk"), col("qn"))
        .agg(max(struct(col("sim").as("sim"),
          (-col("min_pk")).as("negk"),
          col("p_name").as("cn"))).as("best"))
        .select(col("qk").as("q_partkey"), col("qn").as("query_name"),
          (-col("best.negk")).as("match_partkey"),
          col("best.cn").as("match_name"),
          col("best.sim").as("sim"))
        .orderBy(col("q_partkey"))
    },

    // Robust outlier detection by MAD (median absolute deviation) — the
    // estimator that survives what breaks q12's IQR fences and any
    // mean/stddev z-score: up to 50% contamination. Per event type:
    // med = median(cents), MAD = median(|cents − med|), and a point is an
    // outlier when its robust z-score 0.6745·(x−med)/MAD exceeds 3.5 in
    // magnitude (Iglewicz & Hoaglin 1993's recommended cutoff; 0.6745
    // rescales MAD to σ under normality). Two grouped passes are
    // intrinsic (MAD is a median OF deviations from a median); each is a
    // partial-aggregated corpus scan, and both per-group statistics
    // tables are group-cardinality-sized broadcasts back onto the corpus
    // (the q121 winsorize topology — no window over raw rows). Exactness:
    // cents are BIGINTs, so both engines' interpolating medians land on
    // exact halves, deviations are exact, and the outlier comparison
    // multiplies the SAME doubles in the same order on both sides.
    Q("q219_mad_outliers",
      """WITH x AS (
        |  SELECT event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events),
        |m AS (SELECT g, quantile_cont(c, 0.5) AS med FROM x GROUP BY 1),
        |a AS (SELECT x.g, x.c, m.med, abs(x.c - m.med) AS ad
        |      FROM x JOIN m USING (g)),
        |s AS (SELECT g, quantile_cont(ad, 0.5) AS mad FROM a GROUP BY 1)
        |SELECT a.g AS event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       round(min(a.med), 6) AS med_cents,
        |       round(min(s.mad), 6) AS mad_cents,
        |       CAST(sum(CASE WHEN abs(a.c - a.med)
        |                          > 3.5 / 0.6745 * s.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(sum(CASE WHEN abs(a.c - a.med)
        |                           > 3.5 / 0.6745 * s.mad
        |                      THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 6) AS outlier_frac
        |FROM a JOIN s USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val x = Tables.events(s, d)
        .select(col("event_type").as("g"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val med = x.groupBy(col("g")).agg(expr("percentile(c, 0.5)").as("med"))
      val a = x.join(broadcast(med), "g")
        .withColumn("ad", abs(col("c") - col("med")))
      val mad = a.groupBy(col("g")).agg(expr("percentile(ad, 0.5)").as("mad"))
      val isOut = abs(col("c") - col("med")) >
        lit(3.5) / lit(0.6745) * col("mad")
      a.join(broadcast(mad), "g")
        .groupBy(col("g").as("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(min(col("med")), 6).as("med_cents"),
          round(min(col("mad")), 6).as("mad_cents"),
          sum(when(isOut, 1L).otherwise(0L)).cast("long").as("n_outliers"),
          round(sum(when(isOut, 1L).otherwise(0L))
            / count(lit(1)).cast("double"), 6).as("outlier_frac"))
        .orderBy(col("event_type"))
    },

    // Grouped top-k: the two highest-value lineitems per (returnflag,
    // linestatus), in the oracle's own row_number form. Spark infers a
    // WindowGroupLimit from the `rn <= 2` filter, and graft's TopKStrategy
    // plans its partial as per-key heaps (graft.plans.TopKPerKey): each
    // scan partition forwards ≤ 2 rows per key to the exchange without
    // sorting the partition. The order (cents, orderkey, linenumber) is
    // total, so the heaps cannot change the result.
    Q("q244_native_grouped_topk",
      """WITH x AS (
        |  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |         row_number() OVER (
        |           PARTITION BY l_returnflag, l_linestatus
        |           ORDER BY CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |                      DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_returnflag, l_linestatus, CAST(rn AS INT) AS rn,
        |       CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |       CAST(l_linenumber AS INT) AS l_linenumber, cents
        |FROM x WHERE rn <= 2
        |ORDER BY l_returnflag, l_linestatus, rn""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val w = Window.partitionBy(col("l_returnflag"), col("l_linestatus"))
        .orderBy(col("cents").desc, col("l_orderkey"), col("l_linenumber"))
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("rn").cast("int").as("rn"),
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("int").as("l_linenumber"), col("cents"))
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("rn"))
    },

    // Decile dependence grid — the empirical copula a pricing analyst
    // reads before trusting any single correlation number: rank price
    // and quantity into global deciles and count the 10×10 joint cells
    // (independence ⇒ flat grid; q14's Pearson r compresses this whole
    // surface into one number). BOTH decile rankings run through
    // [[Ranks.globalIndex]] + [[Ranks.ntileExpr]] (block-offset rank +
    // closed-form ntile arithmetic) — two distributed rankings of the
    // fact table with NO corpus-wide SinglePartition sort; the tie order
    // (value, orderkey, linenumber) is total, so both engines bucket
    // identically. Output is the bounded 100-cell grid.
    Q("q245_decile_grid",
      """WITH x AS (
        |  SELECT ntile(10) OVER (ORDER BY
        |           CAST(round(l_extendedprice * 100, 0) AS BIGINT),
        |           l_orderkey, l_linenumber) AS dp,
        |         ntile(10) OVER (ORDER BY CAST(l_quantity AS BIGINT),
        |           l_orderkey, l_linenumber) AS dq
        |  FROM lineitem)
        |SELECT CAST(dp AS INT) AS price_decile,
        |       CAST(dq AS INT) AS qty_decile,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val base = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
      val p = Ranks.globalIndex(base, col("cents"), col("ok"), col("ln"))
        .withColumn("dp", Ranks.ntileExpr(col("idx"), col("n"), 10))
        .drop("idx", "n")
      val both = Ranks.globalIndex(p, col("qty"), col("ok"), col("ln"))
        .withColumn("dq", Ranks.ntileExpr(col("idx"), col("n"), 10))
      both.groupBy(col("dp").cast("int").as("price_decile"),
          col("dq").cast("int").as("qty_decile"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("price_decile"), col("qty_decile"))
    },

    // Join-cardinality estimation audit — the System-R selectivity
    // formula graded against ground truth: both q114-join sides (views
    // and purchases per user) are summarized into 16 equal-width key-
    // range buckets of (rows, ndv), the optimizer's estimate per bucket
    // is rows_a·rows_b / max(ndv_a, ndv_b), and the total is compared to
    // the EXACT output cardinality Σ cnt_a·cnt_b (q131's number). The
    // estimate-vs-actual ratio is the statistic a planner's cost model
    // lives or dies by — here it doubles as a conformance pin that both
    // engines bucket and estimate identically. Per-key frames only; the
    // bucket spine is arithmetic on broadcast min/max bounds.
    Q("q266_join_estimate",
      """WITH v AS (
        |  SELECT user_id, count(*) AS c FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT user_id, count(*) AS c FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (
        |  SELECT min(least(vmn, pmn)) AS mn, max(greatest(vmx, pmx)) AS mx
        |  FROM (SELECT min(user_id) AS vmn, max(user_id) AS vmx FROM v),
        |       (SELECT min(user_id) AS pmn, max(user_id) AS pmx FROM p)),
        |vb AS (
        |  SELECT least((user_id - mn) * 16 // (mx - mn + 1), 15) AS bk,
        |         CAST(sum(c) AS BIGINT) AS rows_a, count(*) AS ndv_a
        |  FROM v, b GROUP BY 1),
        |pb AS (
        |  SELECT least((user_id - mn) * 16 // (mx - mn + 1), 15) AS bk,
        |         CAST(sum(c) AS BIGINT) AS rows_b, count(*) AS ndv_b
        |  FROM p, b GROUP BY 1),
        |est AS (
        |  SELECT sum(CAST(rows_a AS DOUBLE) * rows_b
        |             / greatest(ndv_a, ndv_b)) AS est
        |  FROM vb JOIN pb USING (bk)),
        |ex AS (
        |  SELECT CAST(sum(v.c * p.c) AS BIGINT) AS actual
        |  FROM v JOIN p USING (user_id))
        |SELECT CAST(16 AS INT) AS n_buckets,
        |       round(est, 2) AS est_rows,
        |       actual AS actual_rows,
        |       round(est / actual, 4) AS est_over_actual
        |FROM est, ex""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      def side(t: String, cn: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(count(lit(1)).as(cn))
      val v = side("view", "cv")
      val p = side("purchase", "cp")
      val b = v.agg(min(col("user_id")).as("vmn"), max(col("user_id")).as("vmx"))
        .join(p.agg(min(col("user_id")).as("pmn"),
          max(col("user_id")).as("pmx")), lit(true))
        .select(least(col("vmn"), col("pmn")).as("mn"),
          greatest(col("vmx"), col("pmx")).as("mx"))
      def bucketed(df: org.apache.spark.sql.DataFrame, cn: String,
          ra: String, na: String) =
        df.join(broadcast(b), lit(true))
          .groupBy(least(
            expr("(user_id - mn) * 16 div (mx - mn + 1)"), lit(15L))
            .as("bk"))
          .agg(sum(col(cn)).cast("long").as(ra), count(lit(1)).as(na))
      val est = bucketed(v, "cv", "rows_a", "ndv_a")
        .join(bucketed(p, "cp", "rows_b", "ndv_b"), "bk")
        .agg(sum(col("rows_a").cast("double") * col("rows_b")
          / greatest(col("ndv_a"), col("ndv_b"))).as("est"))
      val exact = v.join(p, "user_id")
        .agg(sum(col("cv") * col("cp")).cast("long").as("actual"))
      est.join(broadcast(exact), lit(true))
        .select(lit(16).as("n_buckets"),
          round(col("est"), 2).as("est_rows"),
          col("actual").as("actual_rows"),
          round(col("est") / col("actual"), 4).as("est_over_actual"))
    }
  )

}
