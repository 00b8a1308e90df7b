package graft.ops

import graft.{Q, Tables}
import graft.functions.CaseMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Core relational operator inventory (SURVEY.md §2.2–§2.7), each exposed as
  * a named, DuckDB-oracle-checked query over the test star schema.
  *
  * Scale notes: every query is a single declarative plan — filters/projections
  * push to the parquet scan, dims are broadcast (nation/region always;
  * customer under autoBroadcastJoinThreshold, sort-merge beyond), aggregates
  * run partial+final, top-k uses TakeOrderedAndProject. No collect() loops,
  * no repartition shims; the same plans hold on a 1000-executor cluster.
  */
object Relational {

  /** Flagship (SURVEY.md §7 phase 0): the reference's signature shape —
    * fact⋈dim left joins (Scripts/etl.py:35-36) + date features
    * (etl.py:49-52) + per-key lag/trailing-avg window (etl.py:61-65) +
    * group top-k (eda.py:129) — transplanted to the test schema. */
  /** TPC-H Q5-shaped 6-table join (local-supplier volume) — see queries. */
  def localSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    val dpct = round(col("l_discount") * 100, 0).cast("long")
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), cents.as("cents"),
          dpct.as("dpct")),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("cents") * (lit(100L) - col("dpct"))).cast("long")
        .as("rev_c4"),
        count(lit(1)).cast("long").as("n_lines"))
      .orderBy(col("rev_c4").desc, col("n_name"))
  }

  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(c, col("o_custkey") === col("c_custkey"), "left")
      .withColumn("yr", year(col("l_shipdate")))
      .withColumn("price_lag1", lag(col("l_extendedprice"), 1).over(w))
      .withColumn("price_roll4",
        avg(col("l_extendedprice")).over(w.rowsBetween(-4, -1)))
      .groupBy(col("c_mktsegment"), col("yr"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(coalesce(col("price_lag1"), lit(0.0))), 2).as("sum_lag1"),
        round(avg(coalesce(col("price_roll4"), lit(0.0))), 4).as("avg_roll4"))
      .orderBy(desc("n_items"), asc_nulls_first("c_mktsegment"), asc("yr"))
      .limit(10)
  }

  private val flagshipSql =
    """WITH win AS (
      |  SELECT c.c_mktsegment,
      |         CAST(year(l.l_shipdate) AS INT) AS yr,
      |         lag(l.l_extendedprice, 1) OVER w AS price_lag1,
      |         avg(l.l_extendedprice)
      |           OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS price_roll4
      |  FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  WINDOW w AS (PARTITION BY l.l_partkey
      |               ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber)
      |)
      |SELECT c_mktsegment, yr, count(*) AS n_items,
      |       round(sum(coalesce(price_lag1, 0)), 2) AS sum_lag1,
      |       round(avg(coalesce(price_roll4, 0)), 4) AS avg_roll4
      |FROM win GROUP BY c_mktsegment, yr
      |ORDER BY n_items DESC, c_mktsegment NULLS FIRST, yr LIMIT 10""".stripMargin

  val queries: Seq[Q] = Seq(

    Q("q00_flagship", flagshipSql)(flagship),

    // A2/A6/A9: grouped multi-aggregate (TPC-H Q1 shape), hash partial+final.
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // P1/P10/S2: projection + range predicates, both pushed to the scan.
    Q("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem
        |WHERE l_extendedprice > 90000
        |  AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
        |                     AND TIMESTAMP '1997-12-31 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_extendedprice") > 90000 &&
          col("l_shipdate").between(
            lit("1997-01-01 00:00:00").cast("timestamp_ntz"),
            lit("1997-12-31 00:00:00").cast("timestamp_ntz")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // J1+A9+O2: fact⋈dim join, grouped sum, top-k (TakeOrderedAndProject).
    Q("q03_top_customers",
      """SELECT c.c_custkey, c.c_name,
        |       round(sum(o.o_totalprice), 2) AS total_spent,
        |       count(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(desc("total_spent"), asc("c_custkey"))
        .limit(10)
    },

    // J1×4 star join: nation/region broadcast; revenue rollup per region/nation.
    Q("q04_region_revenue",
      """SELECT r.r_name, n.n_name,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // Left-semi join ≡ EXISTS.
    Q("q05_semi_join",
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    // Left-anti join ≡ NOT EXISTS.
    Q("q06_anti_join",
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    },

    // J1 left join + P7 conditional null-count (USING-style dedup of the key).
    Q("q07_leftjoin_nulls",
      """SELECT c.c_mktsegment,
        |       count(*) AS n_rows,
        |       count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_null_orders,
        |       round(sum(coalesce(o.o_totalprice, 0)), 2) AS total_price
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("o_orderkey").isNull, lit(1))).as("n_null_orders"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total_price"))
        .orderBy(col("c_mktsegment"))
    },

    // W1–W3: the Walmart lag/rolling signature on events (etl.py:61-65).
    Q("q08_window_lag",
      """SELECT event_id, user_id, value,
        |       lag(value, 1) OVER w AS value_lag1,
        |       lag(value, 4) OVER w AS value_lag4,
        |       round(avg(value)
        |         OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 4) AS value_roll4
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("value_lag1"),
          lag(col("value"), 4).over(w).as("value_lag4"),
          round(avg(col("value")).over(w.rowsBetween(-4, -1)), 4).as("value_roll4"))
        .orderBy(col("event_id"))
    },

    // Ranking window: top-3 orders per customer.
    Q("q09_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // Ranking-window statistics beyond row_number: ntile quartiles,
    // percent_rank and cume_dist per customer segment. NOT a
    // PARTITION BY c_mktsegment window: 5 segments means a 5-task sort
    // funnel at 10⁹ customers — the partitioned cousin of the q130/q148
    // scale-killer. Instead, [[Ranks.groupIndex]] by segment:
    // range-repartition on (segment, acctbal, custkey) — range partitions
    // are ordered, so each segment's rows in block p all precede its rows
    // in block p+1 — rank per (block, segment) in a fully parallel window,
    // add per-(segment, block) broadcast offsets and the segment size n,
    // then derive all three statistics as map-side arithmetic on
    // (rank, n) via graft.ops.Ranks: bit-equal to the SQL
    // window forms because the (acctbal, custkey) order is total (custkey
    // is unique in this corpus; were a regeneration to introduce ties,
    // the oracle's true peer semantics would hash-mismatch LOUDLY rather
    // than drift silently).
    Q("q53_window_stats",
      """WITH w AS (
        |  SELECT c_mktsegment,
        |         ntile(4) OVER win AS quartile,
        |         percent_rank() OVER win AS pr,
        |         cume_dist() OVER win AS cd
        |  FROM customer
        |  WINDOW win AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
        |SELECT c_mktsegment, CAST(quartile AS INT) AS quartile,
        |       count(*) AS n,
        |       round(max(pr), 6) AS max_pr, round(max(cd), 6) AS max_cd
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val parts = math.max(2, s.sparkContext.defaultParallelism)
      Ranks.groupIndex(Tables.customer(s, d)
          .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey")),
          parts, Seq("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
        .select(col("c_mktsegment"),
          Ranks.ntileExpr(col("idx"), col("n"), 4).as("quartile"),
          Ranks.percentRankExpr(col("idx"), col("n")).as("pr"),
          Ranks.cumeDistExpr(col("idx"), col("n")).as("cd"))
        .groupBy(col("c_mktsegment"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          round(max(col("pr")), 6).as("max_pr"),
          round(max(col("cd")), 6).as("max_cd"))
        .orderBy("c_mktsegment", "quartile")
    },

    // Scalar string-function parity (F-family extension): case mapping,
    // substrings, padding, replacement and edit distance, all computed
    // identically by both engines.
    Q("q54_string_funcs",
      """SELECT n_name,
        |       lower(n_name) AS lo, upper(n_name) AS up,
        |       substr(n_name, 1, 6) AS pre,
        |       lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
        |       replace(n_name, 'NATION', 'N') AS short_name,
        |       length(n_name) AS len,
        |       levenshtein(n_name, 'NATION_0') AS dist
        |FROM nation ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .select(col("n_name"),
          CaseMap.lower(col("n_name")).as("lo"), CaseMap.upper(col("n_name")).as("up"),
          substring(col("n_name"), 1, 6).as("pre"),
          lpad(col("n_nationkey").cast("string"), 4, "0").as("padded"),
          // literal replace, matching the oracle's replace(): regexp_replace
          // would reinterpret a pattern containing ., (, $ etc. as a regex
          expr("replace(n_name, 'NATION', 'N')").as("short_name"),
          length(col("n_name")).cast("long").as("len"),
          levenshtein(col("n_name"), lit("NATION_0")).cast("long").as("dist"))
        .orderBy("n_name")
    },

    // A3: mode = group-count → sort desc (tie-break on value) → top-1.
    Q("q10_mode",
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |GROUP BY c_mktsegment ORDER BY cnt DESC, c_mktsegment LIMIT 1""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("c_mktsegment"))
          .limit(1)
    },

    // A4/A5: exact quantiles + IQR bounds (eda.py:77-81). Bounds derive from
    // rounded quartiles so both engines compute from identical inputs. The
    // EMITTED fences are Tukey's 3× outer ("far-out") fences, not the 1.5×
    // inner ones: an integer multiple of the 4-decimal quartiles stays in
    // the exact 4-decimal space, so the final round is an identity in both
    // engines — 1.5× lands on 5-decimal halfway points (…37125) that Spark
    // (BigDecimal HALF_UP) and DuckDB (binary-double nearest) round apart,
    // observed live at sf0.1. q12 keeps the classic 1.5× predicate, where
    // the bound is compared, never re-rounded.
    Q("q11_median_iqr",
      """SELECT q1, median, q3,
        |       round(q3 - q1, 4) AS iqr,
        |       round(q1 - 3 * (q3 - q1), 4) AS lo_bound,
        |       round(q3 + 3 * (q3 - q1), 4) AS hi_bound
        |FROM (SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
        |             round(quantile_cont(l_extendedprice, 0.50), 4) AS median,
        |             round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
        |      FROM lineitem)""".stripMargin) { (s, d) =>
      // sort-based exact quantiles (see Eda.exactQuantiles: the built-in
      // exact percentile agg is 2-3x slower at sf0.1)
      val Seq(q1, med, q3) = graft.pipeline.Eda.exactQuantiles(
        Tables.lineitem(s, d), "l_extendedprice", Seq(0.25, 0.50, 0.75))
      s.range(1)
        .select(
          round(lit(q1), 4).as("q1"),
          round(lit(med), 4).as("median"),
          round(lit(q3), 4).as("q3"))
        .select(col("q1"), col("median"), col("q3"),
          round(col("q3") - col("q1"), 4).as("iqr"),
          round(col("q1") - lit(3.0) * (col("q3") - col("q1")), 4).as("lo_bound"),
          round(col("q3") + lit(3.0) * (col("q3") - col("q1")), 4).as("hi_bound"))
    },

    // A10/P10: IQR outlier count. The quartiles are collected to the driver
    // (the reference's own approxQuantile-to-driver pattern, eda.py:77-81)
    // so the outlier predicate is a LITERAL range — pushed down to the
    // parquet scan (row-group skipping at 100 TB). The crossJoin(broadcast)
    // alternative keeps one declarative plan but routes 600k rows through an
    // interpreted BroadcastNestedLoopJoin: measured 6× slower.
    Q("q12_outliers",
      """WITH b AS (
        |  SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
        |         round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
        |  FROM lineitem)
        |SELECT count(*) AS n_outliers,
        |       round(min(l_extendedprice), 2) AS min_out,
        |       round(max(l_extendedprice), 2) AS max_out
        |FROM lineitem, b
        |WHERE l_extendedprice < q1 - 1.5 * (q3 - q1)
        |   OR l_extendedprice > q3 + 1.5 * (q3 - q1)""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val Seq(q1r, q3r) = graft.pipeline.Eda.exactQuantiles(
        li, "l_extendedprice", Seq(0.25, 0.75))
      // round(x, 4) with Spark/DuckDB HALF_UP semantics (values positive)
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (q1, q3) = (r4(q1r), r4(q3r))
      val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      li.filter(col("l_extendedprice") < lo || col("l_extendedprice") > hi)
        .agg(
          count(lit(1)).as("n_outliers"),
          round(min(col("l_extendedprice")), 2).as("min_out"),
          round(max(col("l_extendedprice")), 2).as("max_out"))
    },

    // A6: describe() as one distributed pass (eda.py:58).
    Q("q13_describe",
      """SELECT count(l_quantity) AS qty_count,
        |       round(avg(l_quantity), 4) AS qty_mean,
        |       round(stddev_samp(l_quantity), 4) AS qty_std,
        |       round(min(l_quantity), 4) AS qty_min,
        |       round(max(l_quantity), 4) AS qty_max,
        |       count(l_extendedprice) AS price_count,
        |       round(avg(l_extendedprice), 4) AS price_mean,
        |       round(stddev_samp(l_extendedprice), 4) AS price_std,
        |       round(min(l_extendedprice), 4) AS price_min,
        |       round(max(l_extendedprice), 4) AS price_max
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(col("l_quantity")).as("qty_count"),
        round(avg(col("l_quantity")), 4).as("qty_mean"),
        round(stddev_samp(col("l_quantity")), 4).as("qty_std"),
        round(min(col("l_quantity")), 4).as("qty_min"),
        round(max(col("l_quantity")), 4).as("qty_max"),
        count(col("l_extendedprice")).as("price_count"),
        round(avg(col("l_extendedprice")), 4).as("price_mean"),
        round(stddev_samp(col("l_extendedprice")), 4).as("price_std"),
        round(min(col("l_extendedprice")), 4).as("price_min"),
        round(max(col("l_extendedprice")), 4).as("price_max"))
    },

    // A8: Pearson correlation as a distributed aggregate (eda.py:88).
    Q("q14_corr",
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
        |       round(corr(l_quantity, l_discount), 6) AS corr_qty_disc
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6).as("corr_price_disc"),
        round(corr(col("l_quantity"), col("l_discount")), 6).as("corr_qty_disc"))
    },

    // F2–F5: date feature extraction (etl.py:49-52). DuckDB dayofweek is
    // Sun=0..Sat=6; Spark is Sun=1..Sat=7 — oracle adds 1 (SURVEY.md §2.7).
    Q("q15_date_features",
      """SELECT CAST(year(l_shipdate) AS INT) AS yr,
        |       CAST(month(l_shipdate) AS INT) AS mo,
        |       CAST(weekofyear(l_shipdate) AS INT) AS wk,
        |       CAST(dayofweek(l_shipdate) + 1 AS INT) AS dow,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(
          year(col("l_shipdate")).as("yr"),
          month(col("l_shipdate")).as("mo"),
          weekofyear(col("l_shipdate")).as("wk"),
          dayofweek(col("l_shipdate")).as("dow"))
        .groupBy("yr", "mo", "wk", "dow")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("yr", "mo", "wk", "dow")
    },

    // P5/P6/P8: CASE bucketing + literal columns.
    Q("q16_case_bucket",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 200000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 200000, "medium")
            .otherwise("large"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("bucket")
    },

    // P5/P6/P9: the reference's "NA"-sentinel clean (etl.py:96-106) — string
    // sentinel → null → cast. The when() guard is required under ANSI mode.
    Q("q17_na_sentinel",
      """WITH w AS (
        |  SELECT l_returnflag,
        |         CASE WHEN l_returnflag = 'N' THEN 'NA'
        |              ELSE CAST(l_quantity AS VARCHAR) END AS qty_str
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag,
        |         CAST(CASE WHEN qty_str = 'NA' THEN NULL ELSE qty_str END
        |              AS DOUBLE) AS qty_clean
        |  FROM w)
        |SELECT l_returnflag, count(*) AS n_rows, count(qty_clean) AS n_nonnull,
        |       round(avg(qty_clean), 4) AS avg_clean
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("qty_str",
          when(col("l_returnflag") === "N", lit("NA"))
            .otherwise(col("l_quantity").cast("string")))
        .withColumn("qty_clean",
          when(col("qty_str") === "NA", lit(null))
            .otherwise(col("qty_str")).cast("double"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("qty_clean")).as("n_nonnull"),
          round(avg(col("qty_clean")), 4).as("avg_clean"))
        .orderBy(col("l_returnflag"))
    },

    // Set operators: union / intersect / except over nation keys.
    Q("q18_setops",
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT 'except' AS op, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
        |UNION ALL
        |SELECT 'intersect' AS op, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
        |UNION ALL
        |SELECT 'union' AS op, nationkey FROM (SELECT nationkey FROM cn UNION SELECT nationkey FROM sn)
        |ORDER BY op, nationkey""".stripMargin) { (s, d) =>
      val cn = Tables.customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
      val sn = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")).distinct()
      cn.except(sn).withColumn("op", lit("except"))
        .union(cn.intersect(sn).withColumn("op", lit("intersect")))
        .union(cn.union(sn).distinct().withColumn("op", lit("union")))
        .select("op", "nationkey")
        .orderBy("op", "nationkey")
    },

    // Multiset set operations — exceptAll/intersectAll keep DUPLICATE
    // multiplicity (bag semantics: a value occurring m times on the left
    // and n on the right survives except max(m−n,0) times, intersect
    // min(m,n) times), where q18's except/intersect are set-distinct.
    // Spark plans both as aggregate+generate over counts — no join of the
    // raw rows, so the exchange carries one row per distinct value. The
    // grouped output keeps the result small and order-stable at any SF.
    Q("q119_multiset_ops",
      """WITH lf AS (SELECT l_returnflag AS flag FROM lineitem WHERE l_extendedprice > 3000),
        |     rf AS (SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity > 25),
        |     ex AS (SELECT flag FROM lf EXCEPT ALL SELECT flag FROM rf),
        |     ia AS (SELECT flag FROM lf INTERSECT ALL SELECT flag FROM rf)
        |SELECT 'except_all' AS op, flag, count(*) AS n FROM ex GROUP BY 1, 2
        |UNION ALL
        |SELECT 'intersect_all' AS op, flag, count(*) AS n FROM ia GROUP BY 1, 2
        |ORDER BY op, flag""".stripMargin) { (s, d) =>
      // sides chosen so BOTH ops emit rows at every SF (the price filter
      // passes ~2x the quantity filter per flag — except_all keeps the
      // surplus multiplicity, intersect_all the overlap). exceptAll and
      // intersectAll each consume both sides, so the fact is scanned four
      // times — DELIBERATELY not materialized: each scan is one pruned
      // column behind a pushed predicate (KBs of parquet pages per
      // row-group), while checkpointing the ~50%-selectivity row sets
      // writes half the fact table to storage first. Measured 3x slower
      // with localCheckpoint at sf0.1; at cluster scale re-scanning narrow
      // pruned columns beats materializing wide row sets for the same
      // reason. The dedup family's checkpoints (q51) are the opposite
      // trade: their front end is an expensive COMPUTED explode, not a
      // cheap pruned scan.
      val lf = Tables.lineitem(s, d).filter(col("l_extendedprice") > 3000)
        .select(col("l_returnflag").as("flag"))
      val rf = Tables.lineitem(s, d).filter(col("l_quantity") > 25)
        .select(col("l_returnflag").as("flag"))
      lf.exceptAll(rf).withColumn("op", lit("except_all"))
        .union(lf.intersectAll(rf).withColumn("op", lit("intersect_all")))
        .groupBy(col("op"), col("flag")).agg(count(lit(1)).as("n"))
        .orderBy(col("op"), col("flag"))
    },

    // DataFrameNaFunctions.replace — the value-remap sibling of na.drop
    // (P4) and na.fill (P9): a sentinel-to-canonical dictionary applied
    // map-side (compiles to the same CASE WHEN chain the oracle spells
    // out; no shuffle before the final accounting aggregate).
    Q("q120_na_replace",
      """SELECT CASE o_orderpriority
        |         WHEN '4-NOT SPECIFIED' THEN '0-UNSPECIFIED'
        |         WHEN '5-LOW' THEN '5-DEFERRABLE'
        |         ELSE o_orderpriority END AS priority,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .na.replace("o_orderpriority", Map(
          "4-NOT SPECIFIED" -> "0-UNSPECIFIED",
          "5-LOW" -> "5-DEFERRABLE"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("priority"))
    },

    // Exact distinct aggregates.
    Q("q19_distinct_counts",
      """SELECT count(DISTINCT l_partkey) AS nd_part,
        |       count(DISTINCT l_suppkey) AS nd_supp,
        |       count(DISTINCT l_orderkey) AS nd_order,
        |       count(*) AS n_rows
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        countDistinct(col("l_orderkey")).as("nd_order"),
        count(lit(1)).as("n_rows"))
    },

    // HLL++ approximate distinct counts — the 100 TB path for q19's exact
    // countDistinct (no per-key shuffle; mergeable sketches). Sketch
    // estimates are engine-specific → the oracle-checked contract is the
    // PROPERTY that each estimate lands within a 5% tolerance of the exact
    // count (the sketch is configured at rsd=2%; the asserted bound leaves
    // ~2.5σ slack for sketch variance), evaluated in-engine against the
    // same exact distinct counts DuckDB verifies in q19.
    Q("q49_approx_distinct",
      """SELECT CAST(1 AS BOOLEAN) AS part_ok, CAST(1 AS BOOLEAN) AS supp_ok,
        |       CAST(1 AS BOOLEAN) AS order_ok
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      // three HLL sketches ride ONE scan (no expand — sketches are not
      // distinct aggregates). The exact references are three independent
      // narrow dedup jobs (each scans ONE pruned parquet column); they are
      // submitted CONCURRENTLY from the driver so their latencies overlap
      // instead of summing — the scheduler interleaves the narrow stages
      // across the session's cores. (Two one-scan alternatives measured
      // slower at sf0.1: a 4-way Expand inside the sketch aggregate ≈2.5×;
      // a tagged-union explode→distinct 4.3s vs 2.6s for this shape.)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val approxF = Future(li.agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("a_part"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("a_supp"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("a_order")).head())
      val exactF = Seq("l_partkey", "l_suppkey", "l_orderkey")
        .map(c => Future(li.select(c).distinct().count()))
      val approx = Await.result(approxF, Duration.Inf)
      val checks = exactF.zipWithIndex.map { case (f, i) =>
        val e = Await.result(f, Duration.Inf)
        math.abs(approx.getLong(i) - e).toDouble / e <= 0.05
      }
      s.range(1).select(
        lit(checks(0)).as("part_ok"),
        lit(checks(1)).as("supp_ok"),
        lit(checks(2)).as("order_ok"))
    },

    // ROLLUP grouping sets (extension beyond the reference, SURVEY.md §2.4).
    Q("q20_rollup",
      """SELECT r_name, n_name, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS total_bal
        |FROM region r
        |JOIN nation n   ON r.r_regionkey = n.n_regionkey
        |JOIN customer c ON n.n_nationkey = c.c_nationkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.region(s, d)
        .join(Tables.nation(s, d), col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(s, d), col("n_nationkey") === col("c_nationkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },

    // CUBE grouping sets — all 2^2 grouping combinations in one shuffle
    // (partial aggregation expands grouping ids map-side).
    Q("q45_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("total_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // PIVOT: long→wide on a known value set (explicit values keep the plan
    // single-pass; without them Spark runs an extra distinct job). Oracle is
    // the equivalent conditional aggregation.
    Q("q46_pivot",
      """SELECT o_orderpriority,
        |       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
        |       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
        |       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(round(sum(col("o_totalprice")), 2))
          .orderBy(col("o_orderpriority"))
    },

    // Stratified sampling (df.stat.sampleBy) — the rebalancing step of a
    // training-data pipeline: downsample the dominant stratum (en → 25%)
    // while keeping the rest at 75%. Per-stratum totals are genuine DuckDB
    // rows; the seeded per-stratum draw is engine-specific, so its
    // acceptance is the in-engine boolean that every observed sampling
    // fraction lands within ±0.15 of its target (≥2.8σ for the smallest
    // 64-doc stratum; deterministic per seed, holds at sf0.01 and sf0.1).
    Q("q80_stratified_sample",
      """SELECT lang, count(*) AS n_docs, CAST(1 AS BOOLEAN) AS frac_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val fractions = Map("en" -> 0.25, "de" -> 0.75, "es" -> 0.75,
        "fr" -> 0.75, "zh" -> 0.75)
      // target derives from the SAME map sampleBy uses (no hand-kept copy
      // to drift); a stratum outside the map samples at fraction 0 and its
      // target is 0, so an unexpected 6th language stays consistent
      val target = fractions.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
        when(col("lang") === k, v).otherwise(acc)
      }
      val sampled = docs.stat.sampleBy("lang", fractions, 42L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_samp"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          (abs(coalesce(col("n_samp"), lit(0L)).cast("double") /
            col("n_docs") - target) <= 0.15).as("frac_ok"))
        .orderBy(col("lang"))
    },

    // Promo-revenue share (TPC-H Q14 shape) — the part⋈lineitem leg of the
    // star schema: one month of lineitem (shipdate predicate pushed to the
    // scan) joined to part on p_partkey, conditional aggregation over
    // p_type. At test SF the 2k-row part side auto-broadcasts; at TPC-H
    // SF100k part is fact-sized and AQE picks the shuffled hash join on the
    // same plan — no hint pinning the wrong strategy at either scale. The
    // scan reads only (p_partkey, p_type) of part's 6 columns.
    Q("q75_promo_revenue",
      """SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
        |                  THEN l_extendedprice * (1 - l_discount) END)
        |             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
        |       count(*) AS n_items,
        |       count(DISTINCT p_partkey) AS n_parts
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate <  TIMESTAMP '1996-10-01'""".stripMargin) { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        // NTZ literals like q01/q02: an LTZ cast would coerce the NTZ column
        // through the session timezone and only stays correct because
        // Tables.load pins UTC as a side effect
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp_ntz"))
        .join(Tables.part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev)) / sum(rev), 4)
            .as("promo_share"),
          count(lit(1)).as("n_items"),
          countDistinct(col("p_partkey")).as("n_parts"))
    },

    // O4/O5: seeded sample + randomSplit. Raw counts are partition-layout
    // dependent (not SQL-expressible), so the oracle-checked contract is the
    // PROPERTY set (q49 pattern): the split is an exact partition
    // (train + test == total, a row count DuckDB genuinely recomputes), and
    // both the 10% sample and the 80/20 split land within binomial-
    // concentration bands (±3% absolute — >20σ at the 6k-row smallest SF).
    // Everything stays distributed: four single-row aggregates cross-joined,
    // no driver collect.
    Q("q21_sample_split",
      """SELECT count(*) AS n_total,
        |       CAST(1 AS BOOLEAN) AS sample_frac_ok,
        |       CAST(1 AS BOOLEAN) AS split_exact_ok,
        |       CAST(1 AS BOOLEAN) AS split_frac_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val Array(tr, te) = li.randomSplit(Array(0.8, 0.2), 42)
      li.agg(count(lit(1)).as("n_total"))
        .crossJoin(li.sample(withReplacement = false, 0.1, 42)
          .agg(count(lit(1)).as("n_sample")))
        .crossJoin(tr.agg(count(lit(1)).as("n_train")))
        .crossJoin(te.agg(count(lit(1)).as("n_test")))
        .select(
          col("n_total"),
          col("n_sample").between(col("n_total") * 0.07, col("n_total") * 0.13)
            .as("sample_frac_ok"),
          (col("n_train") + col("n_test") === col("n_total")).as("split_exact_ok"),
          col("n_train").between(col("n_total") * 0.77, col("n_total") * 0.83)
            .as("split_frac_ok"))
    },

    // Equi-width histogram (20 buckets) of extended price — the profiling
    // primitive behind q13's describe and q64's quantile sketch, emitted
    // as exact bucket counts. ALL bucket arithmetic is BIGINT on cents:
    // bucket = ((pc − min)·20) div span with integer division, so no
    // engine can disagree at a bucket edge (the float (x−min)/width form
    // puts every on-the-line value one ulp from the wrong bucket). Two
    // scans by construction (min/max must close before bucketing); the
    // 1-row bounds frame rides a broadcast crossJoin, bucketing and
    // counting are map-side partial aggregates.
    Q("q165_histogram",
      """WITH q AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        |  FROM lineitem),
        |b AS (SELECT min(pc) AS mn, max(pc) - min(pc) + 1 AS span FROM q),
        |h AS (
        |  SELECT CAST(((pc - mn) * 20) // span AS INT) AS bucket,
        |         count(*) AS n, CAST(sum(pc) AS BIGINT) AS sum_cents
        |  FROM q CROSS JOIN b GROUP BY 1)
        |SELECT bucket,
        |       CAST(mn + (bucket * span) // 20 AS BIGINT) AS lo_cents,
        |       CAST(mn + ((bucket + 1) * span) // 20 - 1 AS BIGINT)
        |         AS hi_cents,
        |       n, sum_cents
        |FROM h CROSS JOIN b ORDER BY bucket""".stripMargin) { (s, d) =>
      val q = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
      val b = q.agg(min(col("pc")).as("mn"),
        (max(col("pc")) - min(col("pc")) + 1).as("span"))
      q.crossJoin(broadcast(b))
        .groupBy(expr("CAST(((pc - mn) * 20) div span AS INT)").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).cast("long").as("sum_cents"))
        .crossJoin(broadcast(b))
        .select(col("bucket"),
          expr("CAST(mn + (bucket * span) div 20 AS BIGINT)").as("lo_cents"),
          expr("CAST(mn + ((bucket + 1) * span) div 20 - 1 AS BIGINT)")
            .as("hi_cents"),
          col("n"), col("sum_cents"))
        .orderBy("bucket")
    },

    // TPC-H Q5-shaped local-supplier volume: the SIX-table join-planning
    // showcase (customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈
    // region) with the classic c_nationkey = s_nationkey "local" twist —
    // the join that punishes a bad order at 100 TB. Plan choices: the
    // date filter pushes to the orders scan (half-open range, q178
    // lesson); customer/orders/lineitem/supplier shuffle-join on their
    // natural keys (all big at scale, AQE free to re-plan); only the
    // dimension tail (nation, filtered region) broadcasts. Revenue
    // Σ cents·(100−disc_pct) stays in exact BIGINT hundredths-of-cents.
    Q("q198_local_supplier_volume",
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |            AS BIGINT) AS rev_c4,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY rev_c4 DESC, n_name""".stripMargin)(
      localSupplierVolume),

    // Dominant-supplier audit (the TPC-H Q20 nesting shape): which
    // (part, supplier) pairs shipped MORE than every other supplier of
    // that part combined in 1997? Two-level aggregation — lineitem
    // reduces to (part, supplier) quantity sums in one partial-aggregated
    // scan, per-part totals reduce that frame again, and the dominance
    // probe is a co-partitioned join back on the part key (both sides
    // already hash-partitioned by pk: no extra exchange under AQE).
    // Single-supplier parts are excluded (dominance is vacuous). All
    // integers, FULL hash.
    Q("q199_dominant_supplier",
      """WITH pq AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |tot AS (SELECT pk, CAST(sum(q) AS BIGINT) AS tq,
        |               count(*) AS n_sup FROM pq GROUP BY 1),
        |dom AS (
        |  SELECT pq.pk, pq.sk, pq.q FROM pq JOIN tot ON pq.pk = tot.pk
        |  WHERE 2 * pq.q > tot.tq AND tot.n_sup > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_dominant_pairs,
        |       CAST(count(DISTINCT sk) AS BIGINT) AS n_suppliers,
        |       CAST(count(DISTINCT pk) AS BIGINT) AS n_parts,
        |       CAST(coalesce(sum(q), 0) AS BIGINT) AS dominated_qty
        |FROM dom""".stripMargin) { (s, d) =>
      val pq = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(sum(col("l_quantity").cast("long")).cast("long").as("q"))
      val tot = pq.groupBy(col("pk"))
        .agg(sum(col("q")).cast("long").as("tq"),
          count(lit(1)).as("n_sup"))
      pq.join(tot, "pk")
        .filter(lit(2) * col("q") > col("tq") && col("n_sup") > 1)
        .agg(count(lit(1)).cast("long").as("n_dominant_pairs"),
          countDistinct(col("sk")).cast("long").as("n_suppliers"),
          countDistinct(col("pk")).cast("long").as("n_parts"),
          coalesce(sum(col("q")), lit(0L)).cast("long").as("dominated_qty"))
    },

    // Contingency table via the DataFrameStatFunctions.crosstab API —
    // the pairwise categorical census (returnflag × linestatus) as the
    // stat-helper surface exposes it: one wide row per left value, one
    // column per right value. Compiles to the same pivoted aggregate a
    // GROUP BY + PIVOT plans (partial-aggregated, domain-bounded output);
    // the oracle rebuilds the identical wide shape with conditional sums.
    Q("q211_crosstab",
      """SELECT l_returnflag AS flag_status,
        |       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS F,
        |       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS O
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .stat.crosstab("l_returnflag", "l_linestatus")
        .withColumnRenamed("l_returnflag_l_linestatus", "flag_status")
        .select(col("flag_status"), col("F").cast("long").as("F"),
          col("O").cast("long").as("O"))
        .orderBy(col("flag_status"))
    },

    // Seeded stratified sampling via the stat.sampleBy API — per-stratum
    // Bernoulli with DIFFERENT fractions per key (the class-rebalancing
    // draw; q21 is the single-rate form, q80/q159 the exact-k forms).
    // Membership is RNG-seeded (engine-specific), so the oracle grades
    // the q21 way: exact stratum totals DuckDB recomputes, plus in-engine
    // booleans that each stratum's draw sits inside its binomial
    // five-sigma band — which hold at every SF for seed 42.
    Q("q212_sample_by",
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_total,
        |       TRUE AS band_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val fractions = Map("A" -> 0.2, "N" -> 0.05, "R" -> 0.5)
      val li = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"))
      val sampled = li.stat.sampleBy("flag", fractions, 42L)
        .groupBy(col("flag")).agg(count(lit(1)).as("n_kept"))
      li.groupBy(col("flag")).agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("flag"), "left")
        .select(col("flag"), col("n_total").cast("long").as("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("nk"),
          col("n_total").as("nt"))
        .withColumn("p", element_at(
          map(fractions.toSeq.flatMap { case (k, v) =>
            Seq(lit(k), lit(v)) }: _*), col("flag")))
        .select(col("flag"), col("n_total"),
          (abs(col("nk") - col("p") * col("nt"))
            <= lit(5.0) * sqrt(col("p") * (lit(1.0) - col("p")) * col("nt"))
              + lit(3.0)).as("band_ok"))
        .orderBy(col("flag"))
    }
  )
}
