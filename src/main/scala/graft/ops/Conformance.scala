package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row type for the q207 typed-Dataset path (top-level so the product
  * encoder derives statically). */
final case class LiRow(flag: String, qty: Long, cents: Long)

/** SQL-semantics conformance batteries — queries whose POINT is pinning
  * the engine's edge-case semantics (three-valued logic, hash-bucketed
  * batching) against the DuckDB reference, so a regression in either
  * engine's behavior surfaces as a hash mismatch rather than silent
  * drift. */
object Conformance {

  val queries: Seq[Q] = Seq(

    // Three-valued-logic torture: every NULL behavior an aggregate
    // pipeline silently depends on, measured on a frame with injected
    // NULLs (quantity 50 → NULL): aggregates skip NULLs (count/sum/avg/
    // min/max/distinct), COUNT(*) doesn't, null-safe equality (<=> ≙
    // IS NOT DISTINCT FROM) matches NULLs, comparisons with NULL are
    // UNKNOWN and fail WHERE, and GROUP BY collects NULLs into ONE
    // group. One partial-aggregated scan per returnflag plus a
    // domain-bounded distinct-group count.
    Q("q191_null_semantics",
      """WITH f AS (
        |  SELECT l_returnflag AS g,
        |         nullif(CAST(l_quantity AS BIGINT), 50) AS q
        |  FROM lineitem),
        |a AS (
        |  SELECT g, count(*) AS n_rows,
        |         CAST(count(*) - count(q) AS BIGINT) AS n_null,
        |         CAST(count(q) AS BIGINT) AS n_not_null,
        |         CAST(sum(q) AS BIGINT) AS sum_q,
        |         round(avg(q), 6) AS avg_q,
        |         CAST(min(q) AS BIGINT) AS min_q,
        |         CAST(max(q) AS BIGINT) AS max_q,
        |         CAST(count(DISTINCT q) AS BIGINT) AS n_distinct,
        |         CAST(sum(CASE WHEN q IS NOT DISTINCT FROM NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_nullsafe_null,
        |         CAST(sum(CASE WHEN q > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_cmp_true
        |  FROM f GROUP BY 1),
        |ng AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_groups
        |  FROM (SELECT g, q FROM f GROUP BY g, q) GROUP BY 1)
        |SELECT a.g, n_rows, n_null, n_not_null, sum_q, avg_q, min_q,
        |       max_q, n_distinct, n_nullsafe_null, n_cmp_true, n_groups
        |FROM a JOIN ng ON a.g = ng.g ORDER BY a.g""".stripMargin) { (s, d) =>
      val f = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          nullif(col("l_quantity").cast("long"), lit(50L)).as("q"))
      val a = f.groupBy(col("g")).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("q"))).cast("long").as("n_null"),
        count(col("q")).cast("long").as("n_not_null"),
        sum(col("q")).cast("long").as("sum_q"),
        round(avg(col("q")), 6).as("avg_q"),
        min(col("q")).cast("long").as("min_q"),
        max(col("q")).cast("long").as("max_q"),
        countDistinct(col("q")).cast("long").as("n_distinct"),
        sum(when(col("q") <=> lit(null), 1).otherwise(0)).cast("long")
          .as("n_nullsafe_null"),
        sum(when(col("q") > 0, 1).otherwise(0)).cast("long")
          .as("n_cmp_true"))
      val ng = f.groupBy(col("g"), col("q")).agg(count(lit(1)))
        .groupBy(col("g")).agg(count(lit(1)).cast("long").as("n_groups"))
      a.join(ng, "g")
        .select(col("g"), col("n_rows"), col("n_null"), col("n_not_null"),
          col("sum_q"), col("avg_q"), col("min_q"), col("max_q"),
          col("n_distinct"), col("n_nullsafe_null"), col("n_cmp_true"),
          col("n_groups"))
        .orderBy(col("g"))
    },

    // Inference micro-batch padding audit — the GPU-batching economics of
    // a fixed-shape serving tier: docs hash into 16 shards × 16 buckets
    // (both pure map-side md5 digits — NO ranking window, so no per-shard
    // funnel at any scale), each bucket is padded to its longest doc, and
    // the per-shard report totals the padding waste a max-length batch
    // layout would burn. Two-level aggregate, exact integers throughout;
    // only the waste ratio rounds.
    Q("q192_padding_audit",
      """WITH h AS (
        |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) AS bucket,
        |         n_chars
        |  FROM documents),
        |b AS (
        |  SELECT shard, bucket, count(*) AS n, CAST(sum(n_chars) AS BIGINT)
        |           AS sum_chars,
        |         CAST(max(n_chars) AS BIGINT) AS max_chars
        |  FROM h GROUP BY 1, 2)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(n * max_chars - sum_chars) AS BIGINT) AS pad_chars,
        |       round(CAST(sum(n * max_chars - sum_chars) AS DOUBLE)
        |             / sum(n * max_chars), 6) AS pad_ratio
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val b = Tables.documents(s, d)
        .select(substring(h, 1, 1).as("shard"),
          substring(h, 2, 1).as("bucket"), col("n_chars"))
        .groupBy(col("shard"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
      b.groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_buckets"),
          sum(col("n")).cast("long").as("n_docs"),
          sum(col("sum_chars")).cast("long").as("sum_chars"),
          sum(col("n") * col("max_chars") - col("sum_chars")).cast("long")
            .as("pad_chars"),
          round(sum(col("n") * col("max_chars") - col("sum_chars"))
            .cast("double")
            / sum(col("n") * col("max_chars")).cast("double"), 6)
            .as("pad_ratio"))
        .orderBy(col("shard"))
    },

    // Incremental view maintenance algebra — the refresh path a nightly
    // 100-TB rollup actually takes: the materialized aggregate over the
    // base partition (days ≤ 25) absorbs a late-arriving delta partition
    // (days > 25) by MERGING PARTIALS (count/sum add, min/max fold) with
    // NO rescan of the base. The merged per-type rows must equal the
    // full recompute bit-for-bit — emitted side by side with equality
    // booleans the oracle pins TRUE, plus the exact merged values it
    // recomputes from scratch.
    Q("q193_incremental_refresh",
      """WITH full_agg AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS s,
        |         CAST(min(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS mn,
        |         CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS mx
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events, s AS sum_cents,
        |       mn AS min_cents, mx AS max_cents,
        |       TRUE AS merge_matches_full
        |FROM full_agg ORDER BY event_type""".stripMargin) { (s, d) =>
      val cents = round(col("value") * 100, 0).cast("long")
      def part(cond: org.apache.spark.sql.Column) = Tables.events(s, d)
        .filter(cond)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(cents).cast("long").as("s"),
          min(cents).cast("long").as("mn"), max(cents).cast("long").as("mx"))
      val base = part(dayofmonth(col("ts")) <= 25)
      val delta = part(dayofmonth(col("ts")) > 25)
      // partial-merge WITHOUT touching base rows again: full outer on the
      // group key, additive counts/sums, least/greatest extrema
      val merged = base.as("b")
        .join(delta.as("o"), Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("b.n"), lit(0L)) + coalesce(col("o.n"), lit(0L)))
            .as("n_events"),
          (coalesce(col("b.s"), lit(0L)) + coalesce(col("o.s"), lit(0L)))
            .as("sum_cents"),
          least(coalesce(col("b.mn"), col("o.mn")),
            coalesce(col("o.mn"), col("b.mn"))).as("min_cents"),
          greatest(coalesce(col("b.mx"), col("o.mx")),
            coalesce(col("o.mx"), col("b.mx"))).as("max_cents"))
      val full = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("fn"),
          sum(cents).cast("long").as("fs"),
          min(cents).cast("long").as("fmn"), max(cents).cast("long")
            .as("fmx"))
      merged.join(full, "event_type")
        .select(col("event_type"), col("n_events"), col("sum_cents"),
          col("min_cents"), col("max_cents"),
          (col("n_events") === col("fn") && col("sum_cents") === col("fs") &&
            col("min_cents") === col("fmn") &&
            col("max_cents") === col("fmx")).as("merge_matches_full"))
        .orderBy(col("event_type"))
    },

    // Exact weighted median of the unit price, quantity-weighted — the
    // "typical transacted price" a pricing team wants (the unweighted
    // median overweights small orders). Reuses the q166 block-offset CDF
    // topology over the distinct-unit-price histogram (the corpus
    // partial-aggregates to one row per distinct cent value; no global
    // sort): the lower weighted median is the smallest value whose
    // cumulative weight reaches half the total — all BIGINT, FULL hash.
    Q("q194_weighted_median",
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100 / l_quantity, 0)
        |              AS BIGINT) AS v,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS a
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT v, a, coalesce(sum(a) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS ca
        |  FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
        |             CAST(sum(a) AS BIGINT) AS total_weight FROM c)
        |SELECT n_values, total_weight,
        |       CAST((SELECT min(v) FROM w, t WHERE 2 * (ca + a)
        |              >= total_weight) AS BIGINT) AS wmedian_cents
        |FROM t""".stripMargin) { (s, d) =>
      val counts = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100 / col("l_quantity"), 0)
          .cast("long").as("v"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("v")).agg(sum(col("w")).as("a"))
      Ranks.globalCumSum(counts, col("a"), col("v"))
        .withColumnsRenamed(Map("n" -> "n_values", "cum_total" -> "total_weight"))
        .filter(lit(2) * col("cum") >= col("total_weight"))
        .groupBy(col("n_values"), col("total_weight"))
        .agg(min(col("v")).cast("long").as("wmedian_cents"))
        .select(col("n_values"), col("total_weight"), col("wmedian_cents"))
    },

    // Typed Dataset[T] aggregation — the case-class API surface (the
    // brief's "Dataset[T] where type safety helps"): lineitem rows decode
    // through a product Encoder, group with groupByKey, and reduce
    // through a custom typed Aggregator whose buffer is a plain tuple.
    // The typed path compiles to the SAME partial/final hash-aggregate
    // plan as the untyped one (object serialization only at the
    // boundaries), and the oracle pins the results equal to the SQL
    // formulation — the API changes, the physics doesn't.
    Q("q207_typed_aggregation",
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.{Encoder, Encoders}
      import org.apache.spark.sql.expressions.Aggregator
      val ds = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .as(Encoders.product[LiRow])
      val agg = new Aggregator[LiRow, (Long, Long, Long), (Long, Long, Long)] {
        def zero: (Long, Long, Long) = (0L, 0L, Long.MinValue)
        def reduce(b: (Long, Long, Long), a: LiRow): (Long, Long, Long) =
          (b._1 + 1, b._2 + a.cents, math.max(b._3, a.qty))
        def merge(x: (Long, Long, Long), y: (Long, Long, Long)) =
          (x._1 + y._1, x._2 + y._2, math.max(x._3, y._3))
        def finish(b: (Long, Long, Long)): (Long, Long, Long) = b
        def bufferEncoder: Encoder[(Long, Long, Long)] = Encoders.product
        def outputEncoder: Encoder[(Long, Long, Long)] = Encoders.product
      }.toColumn
      ds.groupByKey(_.flag)(Encoders.STRING)
        .agg(agg.name("stats"))
        .toDF("flag", "stats")
        .select(col("flag"), col("stats._1").as("n_rows"),
          col("stats._2").as("sum_cents"), col("stats._3").as("max_qty"))
        .orderBy(col("flag"))
    },

    // Whole-schema referential-integrity sweep — q97's single-edge orphan
    // probe extended to EVERY foreign-key edge of the star schema, one
    // report row per edge. Each probe is a keyed left-anti join (the
    // bloom-reducible shape; child side partial-aggregates to its
    // DISTINCT keys first, so the anti join compares key sets, not raw
    // rows). The nightly constraint report a 100-TB warehouse actually
    // runs.
    Q("q209_fk_sweep",
      """SELECT 'customer->nation' AS edge,
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT c_nationkey
        |         FROM customer) c WHERE NOT EXISTS (SELECT 1 FROM nation
        |         WHERE n_nationkey = c.c_nationkey)) AS BIGINT) AS n_orphan_keys
        |UNION ALL SELECT 'lineitem->orders',
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT l_orderkey
        |         FROM lineitem) l WHERE NOT EXISTS (SELECT 1 FROM orders
        |         WHERE o_orderkey = l.l_orderkey)) AS BIGINT)
        |UNION ALL SELECT 'lineitem->part',
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT l_partkey
        |         FROM lineitem) l WHERE NOT EXISTS (SELECT 1 FROM part
        |         WHERE p_partkey = l.l_partkey)) AS BIGINT)
        |UNION ALL SELECT 'lineitem->supplier',
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT l_suppkey
        |         FROM lineitem) l WHERE NOT EXISTS (SELECT 1 FROM supplier
        |         WHERE s_suppkey = l.l_suppkey)) AS BIGINT)
        |UNION ALL SELECT 'nation->region',
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT n_regionkey
        |         FROM nation) n WHERE NOT EXISTS (SELECT 1 FROM region
        |         WHERE r_regionkey = n.n_regionkey)) AS BIGINT)
        |UNION ALL SELECT 'orders->customer',
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey
        |         FROM orders) o WHERE NOT EXISTS (SELECT 1 FROM customer
        |         WHERE c_custkey = o.o_custkey)) AS BIGINT)
        |UNION ALL SELECT 'supplier->nation',
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT s_nationkey
        |         FROM supplier) s WHERE NOT EXISTS (SELECT 1 FROM nation
        |         WHERE n_nationkey = s.s_nationkey)) AS BIGINT)
        |ORDER BY 1""".stripMargin) { (s, d) =>
      def probe(edge: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String) =
        child.select(col(key)).distinct()
          .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
          .agg(count(lit(1)).cast("long").as("n_orphan_keys"))
          .select(lit(edge).as("edge"), col("n_orphan_keys"))
      probe("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey")
        .unionByName(probe("lineitem->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"))
        .unionByName(probe("lineitem->part", Tables.lineitem(s, d),
          "l_partkey", Tables.part(s, d), "p_partkey"))
        .unionByName(probe("lineitem->supplier", Tables.lineitem(s, d),
          "l_suppkey", Tables.supplier(s, d), "s_suppkey"))
        .unionByName(probe("nation->region", Tables.nation(s, d),
          "n_regionkey", Tables.region(s, d), "r_regionkey"))
        .unionByName(probe("orders->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey"))
        .unionByName(probe("supplier->nation", Tables.supplier(s, d),
          "s_nationkey", Tables.nation(s, d), "n_nationkey"))
        .orderBy(col("edge"))
    },

    // Catalog ANALYZE pass — the statistics a cost-based planner (and a
    // data catalog) collects per table: row count, distinct primary keys,
    // key range. One partial-aggregated scan per table, one report row
    // each — the table-stats refresh job of a lakehouse, expressed as a
    // query. (Column-level NDVs at scale come from q177's sketches; this
    // is the exact-count anchor.)
    Q("q210_catalog_stats",
      """SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_pk,
        |       CAST(min(c_custkey) AS BIGINT) AS pk_min,
        |       CAST(max(c_custkey) AS BIGINT) AS pk_max
        |FROM customer
        |UNION ALL SELECT 'events', count(*), count(DISTINCT event_id),
        |       min(event_id), max(event_id) FROM events
        |UNION ALL SELECT 'orders', count(*), count(DISTINCT o_orderkey),
        |       min(o_orderkey), max(o_orderkey) FROM orders
        |UNION ALL SELECT 'part', count(*), count(DISTINCT p_partkey),
        |       min(p_partkey), max(p_partkey) FROM part
        |UNION ALL SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
        |       min(s_suppkey), max(s_suppkey) FROM supplier
        |ORDER BY 1""".stripMargin) { (s, d) =>
      def stats(tbl: String, df: DataFrame, pk: String) =
        df.agg(count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col(pk)).cast("long").as("n_pk"),
          min(col(pk)).cast("long").as("pk_min"),
          max(col(pk)).cast("long").as("pk_max"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("n_pk"),
            col("pk_min"), col("pk_max"))
      stats("customer", Tables.customer(s, d), "c_custkey")
        .unionByName(stats("events", Tables.events(s, d), "event_id"))
        .unionByName(stats("orders", Tables.orders(s, d), "o_orderkey"))
        .unionByName(stats("part", Tables.part(s, d), "p_partkey"))
        .unionByName(stats("supplier", Tables.supplier(s, d), "s_suppkey"))
        .orderBy(col("tbl"))
    },

    // Correlated LATERAL join conformance — the SQL:2016 lateral-derived-
    // table surface (top-3-per-group phrased as a dependent subquery with
    // ORDER BY … LIMIT, not a window): both engines run the same SQL up to
    // one dialect quirk (DuckDB's JOIN LATERAL requires an explicit
    // `ON true`; Spark's accepts the bare join).
    // Spark decorrelates the lateral into a DomainJoin-rewritten plan
    // (LateralJoin → window/rank under the hood since 3.2) rather than
    // executing the subquery per outer row — the conformance point is that
    // this rewrite agrees exactly with DuckDB's dependent-join execution,
    // including the cents-then-key tie order. Cents are exact BIGINTs;
    // priorities are a ≤5-value domain, so the decorrelated rank runs
    // per-priority, fully parallel, limited to 3 rows per priority before
    // the exchange (a heap-planned WindowGroupLimit, as in q244).
    Q("q221_lateral_topk",
      """SELECT p.prio, t.o_orderkey, t.cents
        |FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders) p
        |JOIN LATERAL (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders o WHERE o.o_orderpriority = p.prio
        |  ORDER BY cents DESC, o_orderkey LIMIT 3
        |) t ON true
        |ORDER BY p.prio, t.cents DESC, t.o_orderkey""".stripMargin) {
      (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_q221")
      s.sql(
        """SELECT p.prio, t.o_orderkey, t.cents
          |FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders_q221) p
          |JOIN LATERAL (
          |  SELECT o_orderkey,
          |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          |  FROM orders_q221 o WHERE o.o_orderpriority = p.prio
          |  ORDER BY cents DESC, o_orderkey LIMIT 3
          |) t
          |ORDER BY p.prio, t.cents DESC, t.o_orderkey""".stripMargin)
    },

    // ISO-8601 calendar conformance at the year boundary — the zone where
    // calendar intuition silently breaks reports: Dec 29-31 can belong to
    // ISO week 1 of the NEXT iso-year, Jan 1-3 to week 52/53 of the
    // PREVIOUS. Spark ships `weekofyear` (ISO week) but NO isoyear
    // function, so the engine derives it by the ISO definition itself —
    // the year of the week's Thursday (Monday-truncated week + 3 days) —
    // and the oracle pins that derivation against DuckDB's native
    // isoyear()/week() over every boundary order. n_cal_years = 2 marks
    // the straddling weeks. One filtered scan (the date predicate pushes
    // down), one bounded-domain aggregate.
    Q("q224_iso_week_boundary",
      """WITH d0 AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d FROM orders
        |  WHERE (month(o_orderdate) = 12 AND day(o_orderdate) >= 26)
        |     OR (month(o_orderdate) = 1 AND day(o_orderdate) <= 7))
        |SELECT CAST(isoyear(d) AS INT) AS iso_year,
        |       CAST(week(d) AS INT) AS iso_week,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(count(DISTINCT d) AS BIGINT) AS n_days,
        |       CAST(min(date_trunc('week', d)) AS DATE) AS wk_monday,
        |       CAST(count(DISTINCT year(d)) AS BIGINT) AS n_cal_years
        |FROM d0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val dd = Tables.orders(s, d)
        .filter((month(col("o_orderdate")) === 12 &&
            dayofmonth(col("o_orderdate")) >= 26) ||
          (month(col("o_orderdate")) === 1 &&
            dayofmonth(col("o_orderdate")) <= 7))
        .select(col("o_orderdate").cast("date").as("d"))
        .withColumn("monday", date_trunc("week", col("d")).cast("date"))
      dd.groupBy(
          year(date_add(col("monday"), 3)).cast("int").as("iso_year"),
          weekofyear(col("d")).cast("int").as("iso_week"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          countDistinct(col("d")).cast("long").as("n_days"),
          min(col("monday")).as("wk_monday"),
          countDistinct(year(col("d"))).cast("long").as("n_cal_years"))
        .orderBy(col("iso_year"), col("iso_week"))
    },

    // Correlated scalar-subquery decorrelation (the TPC-H Q17 shape):
    // lineitems whose quantity falls below 20% of THEIR part's average
    // quantity — per-row predicates referencing a per-group aggregate of
    // the same table. Spark rewrites the correlated scalar subquery into
    // an aggregate-then-join (one lineitem re-scan, never a per-row
    // subquery execution); the conformance point is that the rewrite's
    // join/aggregation semantics (including parts whose average divides
    // exactly) agree with DuckDB's dependent-subquery execution. Both
    // engines run the same text; the 0.2·avg comparison uses the same
    // double ratio from exact integer sums on both sides. Revenue is
    // emitted in exact cents.
    Q("q233_q17_small_qty",
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(round(l1.l_extendedprice * 100, 0) AS BIGINT))
        |            AS BIGINT) AS rev_cents,
        |       CAST(count(DISTINCT l1.l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem l1
        |WHERE l1.l_quantity < (
        |  SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |  WHERE l2.l_partkey = l1.l_partkey)""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q233")
      s.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n_lines,
          |       CAST(sum(CAST(round(l1.l_extendedprice * 100, 0) AS BIGINT))
          |            AS BIGINT) AS rev_cents,
          |       CAST(count(DISTINCT l1.l_partkey) AS BIGINT) AS n_parts
          |FROM lineitem_q233 l1
          |WHERE l1.l_quantity < (
          |  SELECT 0.2 * avg(l2.l_quantity) FROM lineitem_q233 l2
          |  WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
    },

    // GROUP BY ALL / ORDER BY ALL dialect conformance — the 2022-era SQL
    // ergonomics DuckDB introduced and Spark adopted (3.4/4.0): every
    // non-aggregate select item becomes a grouping key, and the full
    // select list becomes the sort order, inferred left-to-right. Both
    // engines run the IDENTICAL text; the conformance point is that the
    // two inference rules pick the same keys and the same sort — a silent
    // divergence here would reorder or regroup every query a user ports.
    Q("q241_group_by_all",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |            AS BIGINT) AS rev_cents
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q241")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
          |            AS BIGINT) AS rev_cents
          |FROM lineitem_q241 GROUP BY ALL ORDER BY ALL""".stripMargin)
    },

    // Surrogate-key continuity audit — the data-quality check a warehouse
    // runs after every load: are the order keys dense, and if not, where
    // does the first hole open and how much is missing? Computed WITHOUT
    // a global ordered window: total missing = (max−min+1) − n (exact
    // arithmetic), gap RUNS = keys whose successor k+1 is absent (a
    // key-shifted LEFT ANTI self-join — each run of consecutive missing
    // values has exactly one such predecessor), first hole = min such
    // k+1. Every step is an equi/anti hash join on the key column; no
    // sort, no SinglePartition, no per-row window at any scale.
    Q("q242_key_gap_audit",
      """WITH k AS (SELECT o_orderkey AS key FROM orders),
        |b AS (SELECT min(key) AS mn, max(key) AS mx,
        |             CAST(count(*) AS BIGINT) AS n FROM k),
        |runs AS (
        |  SELECT a.key FROM k a LEFT JOIN k b2 ON b2.key = a.key + 1
        |  WHERE b2.key IS NULL),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS raw_runs,
        |             min(key) AS first_pred FROM runs)
        |SELECT b.n AS n_keys, CAST(b.mn AS BIGINT) AS key_min,
        |       CAST(b.mx AS BIGINT) AS key_max,
        |       CAST(b.mx - b.mn + 1 - b.n AS BIGINT) AS n_missing,
        |       CAST(r.raw_runs - 1 AS BIGINT) AS n_gap_runs,
        |       CAST(CASE WHEN r.raw_runs > 1 THEN r.first_pred + 1
        |            END AS BIGINT) AS first_missing
        |FROM b, r""".stripMargin) { (s, d) =>
      val k = Tables.orders(s, d).select(col("o_orderkey").as("key"))
      val b = k.agg(min(col("key")).as("mn"), max(col("key")).as("mx"),
        count(lit(1)).cast("long").as("n"))
      // keys with an absent successor: the max key always qualifies, so
      // real gap runs = raw_runs − 1 and the max-key row is excluded
      // from first_missing by the raw_runs > 1 guard matching min order
      val runs = k.join(k.select((col("key") - 1).as("key")),
          Seq("key"), "left_anti")
      val r = runs.agg(count(lit(1)).cast("long").as("raw_runs"),
        min(col("key")).as("first_pred"))
      b.join(broadcast(r), lit(true))
        .select(col("n").as("n_keys"), col("mn").cast("long").as("key_min"),
          col("mx").cast("long").as("key_max"),
          (col("mx") - col("mn") + 1 - col("n")).cast("long")
            .as("n_missing"),
          (col("raw_runs") - 1).cast("long").as("n_gap_runs"),
          when(col("raw_runs") > 1, col("first_pred") + 1).cast("long")
            .as("first_missing"))
    },

    // Timezone-conversion conformance on a fixed-offset zone: Spark's
    // `convert_timezone('UTC', 'Asia/Kolkata', ntz)` must equal plain
    // +05:30 interval arithmetic (Kolkata has carried that offset, with
    // no DST, throughout the corpus' date range) — the oracle computes
    // the shift WITHOUT any timezone machinery, so a tzdata regression
    // or an LTZ/NTZ mix-up in the engine shows up as a shifted-hour
    // histogram. Calendar-bounded 24-row output, one partial-aggregated
    // scan; the half-hour offset makes off-by-∆ errors land in the WRONG
    // bucket rather than cancel.
    Q("q253_timezone_shift",
      """SELECT CAST(hour(ts + INTERVAL 330 MINUTE) AS INT) AS local_hour,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN minute(ts + INTERVAL 330 MINUTE) >= 30
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_back_half
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val local = expr("convert_timezone('UTC', 'Asia/Kolkata', ts)")
      Tables.events(s, d)
        .select(hour(local).cast("int").as("local_hour"),
          minute(local).as("mi"))
        .groupBy(col("local_hour"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("mi") >= 30, 1L).otherwise(0L)).cast("long")
            .as("n_back_half"))
        .orderBy(col("local_hour"))
    },

    // Luhn mod-10 validation — the checksum behind card/IMEI/account
    // numbers, run as a data-quality screen over synthetic account
    // numbers derived from order keys: from the RIGHT, double every
    // second digit (subtracting 9 past 9) and require the total ≡ 0
    // (mod 10). Both engines fold the digit string with their own
    // higher-order array machinery (aggregate vs list_sum/list_transform)
    // over the identical per-position arithmetic — a pure map-side pass;
    // ~1 in 10 random numbers validates, and the exact count is the
    // cross-engine pin.
    Q("q261_luhn_audit",
      """WITH a AS (
        |  SELECT CAST(o_orderkey * 7919 + o_custkey AS VARCHAR) AS acct
        |  FROM orders),
        |v AS (
        |  SELECT acct,
        |         list_sum(list_transform(range(1, len(acct) + 1), i ->
        |           CASE WHEN (len(acct) - i) % 2 = 1
        |                THEN CASE WHEN 2 * CAST(acct[i] AS INTEGER) > 9
        |                          THEN 2 * CAST(acct[i] AS INTEGER) - 9
        |                          ELSE 2 * CAST(acct[i] AS INTEGER) END
        |                ELSE CAST(acct[i] AS INTEGER) END)) % 10 = 0
        |           AS ok
        |  FROM a)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_valid,
        |       round(sum(CASE WHEN ok THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 6) AS valid_share
        |FROM v""".stripMargin) { (s, d) =>
      val luhnOk = expr(
        """aggregate(
          |  transform(sequence(1, length(acct)), i ->
          |    IF((length(acct) - i) % 2 = 1,
          |       IF(2 * CAST(substring(acct, i, 1) AS INT) > 9,
          |          2 * CAST(substring(acct, i, 1) AS INT) - 9,
          |          2 * CAST(substring(acct, i, 1) AS INT)),
          |       CAST(substring(acct, i, 1) AS INT))),
          |  0, (acc, x) -> acc + x) % 10 = 0""".stripMargin)
      Tables.orders(s, d)
        .select((col("o_orderkey") * 7919 + col("o_custkey")).cast("string")
          .as("acct"))
        .withColumn("ok", luhnOk)
        .agg(count(lit(1)).cast("long").as("n_total"),
          sum(when(col("ok"), 1L).otherwise(0L)).cast("long").as("n_valid"),
          round(sum(when(col("ok"), 1L).otherwise(0L))
            / count(lit(1)).cast("double"), 6).as("valid_share"))
    },

    // Month-end date arithmetic conformance — the clamping corner every
    // billing/cohort pipeline trips on: Jan 31 + 1 month must land on
    // Feb 28/29 (clamped), and three engines in a stack disagreeing on
    // it silently shifts a day's revenue between months. Spark's
    // add_months and DuckDB's `+ INTERVAL 1 MONTH` both clamp to the
    // target month's last day; this pins that agreement (plus last_day
    // vs the trunc-add-subtract idiom) over every day-28..31 date in the
    // corpus, forward AND backward. The day ≥ 28 predicate pushes to the
    // scan; output is a ≤4-row domain aggregate.
    Q("q290_month_end_arith",
      """WITH d0 AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, day(o_orderdate) AS dom
        |  FROM orders WHERE day(o_orderdate) >= 28),
        |x AS (
        |  SELECT dom, d,
        |         d + INTERVAL 1 MONTH AS fwd,
        |         d - INTERVAL 1 MONTH AS bwd,
        |         (date_trunc('month', d) + INTERVAL 1 MONTH
        |          - INTERVAL 1 DAY) = d AS at_eom
        |  FROM d0)
        |SELECT CAST(dom AS INT) AS dom,
        |       CAST(count(*) AS BIGINT) AS n_dates,
        |       CAST(sum(CASE WHEN day(fwd) < dom THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clamped_fwd,
        |       CAST(sum(CASE WHEN day(bwd) < dom THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clamped_bwd,
        |       CAST(sum(CASE WHEN at_eom THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_at_month_end
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(dayofmonth(col("o_orderdate")) >= 28)
        .select(col("o_orderdate").cast("date").as("d"),
          dayofmonth(col("o_orderdate")).as("dom"))
        .groupBy(col("dom").cast("int").as("dom"))
        .agg(count(lit(1)).cast("long").as("n_dates"),
          sum(when(dayofmonth(add_months(col("d"), 1)) < col("dom"), 1L)
            .otherwise(0L)).cast("long").as("n_clamped_fwd"),
          sum(when(dayofmonth(add_months(col("d"), -1)) < col("dom"), 1L)
            .otherwise(0L)).cast("long").as("n_clamped_bwd"),
          sum(when(col("d") === last_day(col("d")), 1L).otherwise(0L))
            .cast("long").as("n_at_month_end"))
        .orderBy(col("dom"))
    },

    // Window frame EXCLUDE CURRENT ROW parity — the SQL:2016 frame-
    // exclusion clause the oracle engine supports natively and Spark does
    // not: the peer-average "how do my NEIGHBORS behave, excluding me"
    // frame (ROWS 3 PRECEDING..3 FOLLOWING EXCLUDE CURRENT ROW) is the
    // leave-one-out smoother behind self-excluded anomaly baselines.
    // Spark emulation: subtract the current row from the INCLUSIVE frame's
    // sum/count, honoring NULL semantics (a NULL value contributes to
    // neither; an all-NULL-after-exclusion frame yields NULL, like the
    // native avg over an empty exclusion frame). Cross-engine float
    // safety (round-11, tightened round-13): values enter as EXACT
    // integer cents, so the inclusive-sum-minus-current emulation is
    // integer-exact and the only float op left is ONE division of
    // identical integer operands in both engines. The round(·, 4) after
    // it cannot diverge between the two implementations ON THESE INPUTS:
    // the divisor is the exclusion-frame count, 1..6, so the quotient
    // either terminates within 4 decimals (count ∈ {1,2,4,5} — nothing
    // to round) or is periodic in 3s/6s (count ∈ {3,6} — never within
    // an ulp of a scale-4 half boundary), and both engines see the same
    // IEEE double. This argument is frame-width-specific: widen the
    // frame past count 16 (a 2^4·k divisor) and exact scale-4 halves
    // become reachable — re-derive before reusing the pattern.
    // The oracle spells the native frame as sum/count (not avg) so DuckDB
    // also divides the exact integer pair rather than its own running
    // accumulation. Per-user min/max of the per-row rounded averages keep
    // the output at |users| rows with only order-insensitive aggregation
    // over the rounded values. One user_id exchange serves the window and
    // the final group-by.
    Q("q296_frame_exclusion",
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT user_id,
        |         round(CAST(sum(cents) OVER x AS DOUBLE)
        |               / count(cents) OVER x, 4) AS peer_avg_cents
        |  FROM e
        |  WINDOW x AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
        |               EXCLUDE CURRENT ROW))
        |SELECT user_id,
        |       CAST(count(peer_avg_cents) AS BIGINT) AS n_scored,
        |       round(min(peer_avg_cents), 4) AS min_peer_cents,
        |       round(max(peer_avg_cents), 4) AS max_peer_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 3)
      val cents = round(col("value") * 100, 0).cast("long")
      val exclSum = sum(cents).over(w) - coalesce(cents, lit(0L))
      val exclCnt = count(cents).over(w) -
        when(cents.isNotNull, 1L).otherwise(0L)
      Tables.events(s, d)
        .select(col("user_id"),
          round(when(exclCnt > 0, exclSum.cast("double") / exclCnt), 4)
            .as("peer_avg_cents"))
        .groupBy(col("user_id"))
        .agg(count(col("peer_avg_cents")).cast("long").as("n_scored"),
          round(min(col("peer_avg_cents")), 4).as("min_peer_cents"),
          round(max(col("peer_avg_cents")), 4).as("max_peer_cents"))
        .orderBy(col("user_id"))
    }
  )
}
