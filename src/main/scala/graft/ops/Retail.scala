package graft.ops

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.Ckpt._

/** Retail-domain analytics over the TPC-H star — the analytics family the
  * reference's Walmart-sales context implies but its 4 scripts stop short
  * of (/root/reference/Scripts/eda.py computes per-store aggregates only):
  * market-basket association mining, RFM customer segmentation, and
  * seasonal indexing. All three are exact integer/cents arithmetic end to
  * end — the monetary sums are per-row-rounded cents accumulated as
  * BIGINT, so quartile boundaries and rankings are bit-deterministic
  * across engines (a double-sum ranking could flip an ntile assignment at
  * one ulp near a boundary).
  *
  * Scale shapes: the basket pair explode is bounded by basket size (≤ 7
  * items per TPC-H order ⇒ ≤ 21 pairs) and partial-aggregates before its
  * one shuffle; RFM quartiles rank through [[Ranks.groupIndex]] (range
  * partitions + per-partition ranks — no per-customer row ever crosses a
  * SinglePartition exchange); the seasonal index is a 12-group
  * conditional aggregate of one scan.
  */
object Retail {

  /** Deterministic 6-decimal rounding for values that are long float folds
    * (q220's smoothing recursion): `floor(x·10⁶ + 0.5)/10⁶` is a pure
    * double expression, so identical input BITS give identical output in
    * every engine — unlike `round(x, 6)`, whose decimal-string midpoint
    * handling diverged between Spark and DuckDB by one final digit when a
    * fold landed a hair from a rounding boundary (caught at sf0.01). Both
    * the Spark side and the oracle SQL use this same formula. */
  private def fl6(x: org.apache.spark.sql.Column) =
    floor(x * 1000000 + 0.5) / 1000000

  val queries: Seq[Q] = Seq(

    // Market-basket association rules: the top-20 part pairs by basket
    // co-occurrence, with support and lift. Selection is by INTEGER
    // co-occurrence count (pair id tie-break) — the float lift is payload,
    // never a selector (the q139 discipline). Lift is written with the
    // same operand grouping on both engines:
    // (n_ab·N) / (n_a·n_b), doubles only at the final division.
    Q("q147_market_basket",
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_baskets FROM b),
        |ic AS (SELECT pk, count(*) AS n_item FROM b GROUP BY 1),
        |pc AS (
        |  SELECT a.pk AS part_a, c.pk AS part_b, count(*) AS n_ab
        |  FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
        |  GROUP BY 1, 2),
        |k AS (
        |  SELECT part_a, part_b, n_ab FROM pc
        |  ORDER BY n_ab DESC, part_a, part_b LIMIT 20)
        |SELECT part_a, part_b, n_ab,
        |       ia.n_item AS n_a, ib.n_item AS n_b,
        |       round((CAST(n_ab AS DOUBLE) * n_baskets) /
        |             (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
        |FROM k
        |JOIN ic ia ON k.part_a = ia.pk
        |JOIN ic ib ON k.part_b = ib.pk
        |CROSS JOIN n
        |ORDER BY n_ab DESC, part_a, part_b""".stripMargin) { (s, d) =>
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val n = b.agg(countDistinct(col("ok")).as("n_baskets"))
      val ic = b.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val pc = b.toDF("ok", "part_a")
        .join(b.toDF("ok", "part_b"), "ok")
        .filter(col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_ab"))
      val k = pc.orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
        .limit(20)
      k.join(broadcast(ic.select(col("pk").as("part_a"), col("n_item").as("n_a"))),
          "part_a")
        .join(broadcast(ic.select(col("pk").as("part_b"), col("n_item").as("n_b"))),
          "part_b")
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          round((col("n_ab").cast("double") * col("n_baskets")) /
            (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
    },

    // RFM segmentation: per-customer recency (latest order), frequency
    // (order count) and monetary (exact cents) quartiled into 4×4×4
    // segments. Every quartile ranks on integers with a custkey tie-break —
    // bit-deterministic; ntile semantics (equal buckets, remainder to the
    // leading buckets) agree between engines given the identical total
    // order. Each quartile is a [[Ranks.groupIndex]] pass — one parallel
    // range exchange + pid-local ranks per dimension, the bucket map-side
    // arithmetic on (idx, n) via [[Ranks.ntileExpr]]; the raw per-customer
    // frame NEVER crosses a SinglePartition exchange (the naive global
    // ntile window would funnel all 10⁸–10⁹ customers through one sorting
    // task, three times — PlanQualitySpec pins the shape). With distinct
    // (tie-broken) keys the rank, hence the bucket, is independent of
    // where range sampling placed the partition boundaries.
    Q("q148_rfm_segments",
      """WITH c AS (
        |  SELECT o_custkey AS ck, max(o_orderdate) AS r_ts,
        |         count(*) AS f,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS m_cents
        |  FROM orders GROUP BY 1),
        |q AS (
        |  SELECT ck, r_ts, f, m_cents,
        |         ntile(4) OVER (ORDER BY r_ts DESC, ck) AS rq,
        |         ntile(4) OVER (ORDER BY f DESC, ck) AS fq,
        |         ntile(4) OVER (ORDER BY m_cents DESC, ck) AS mq
        |  FROM c)
        |SELECT 'R' || rq || 'F' || fq || 'M' || mq AS segment,
        |       count(*) AS n_customers,
        |       CAST(sum(m_cents) AS BIGINT) AS segment_cents
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("ck"))
        .agg(max(col("o_orderdate")).as("r_ts"),
          count(lit(1)).as("f"),
          sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("m_cents"))
      val parts = math.max(2, s.sparkContext.defaultParallelism)
      val q = Seq[(String, Seq[org.apache.spark.sql.Column])](
        ("rq", Seq(col("r_ts").desc, col("ck"))),
        ("fq", Seq(col("f").desc, col("ck"))),
        ("mq", Seq(col("m_cents").desc, col("ck"))))
        .foldLeft(c) { case (df, (name, ord)) =>
          Ranks.groupIndex(df, parts, Nil, ord: _*)
            .withColumn(name, Ranks.ntileExpr(col("idx"), col("n"), 4))
            .drop("idx", "n")
        }
      q.groupBy(concat(lit("R"), col("rq"), lit("F"), col("fq"),
          lit("M"), col("mq")).as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("m_cents")).cast("long").as("segment_cents"))
        .orderBy("segment")
    },

    // Month-of-year seasonal index — the classic seasonality profile a
    // sales forecaster derives before modeling (the reference's Walmart
    // context; its weekly features q15 are the per-row half of this):
    // each calendar month's revenue share against a uniform-month
    // baseline, index = 12·rev_m / rev_total. Cents-exact sums; ONE scan,
    // 12-group partial aggregate, then arithmetic on the 12-row frame.
    Q("q149_seasonal_index",
      """WITH m AS (
        |  SELECT CAST(month(o_orderdate) AS INT) AS month,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM m)
        |SELECT month, n_orders, rev_cents,
        |       round(12.0 * rev_cents / total, 6) AS seasonal_index
        |FROM m CROSS JOIN t ORDER BY month""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy(month(col("o_orderdate")).cast("int").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("rev_cents"))
      val t = m.agg(sum(col("rev_cents")).cast("long").as("total"))
      m.crossJoin(broadcast(t))
        .select(col("month"), col("n_orders"), col("rev_cents"),
          round(lit(12.0) * col("rev_cents") / col("total"), 6)
            .as("seasonal_index"))
        .orderBy("month")
    },

    // Seasonal-naive forecast backtest — the evaluation loop the
    // reference's sales-prediction pipeline needs around its model
    // (Scripts/model.py fits but never backtests): forecast each month's
    // revenue as the SAME month's revenue one year earlier, then score the
    // forecast over every month with a prior-year counterpart. Error sums
    // are exact BIGINT cents (MAE/bias derive from them); only MAPE —
    // a mean of per-month exact-ratio doubles — is rounded. Scale shape:
    // ONE scan → (year, month) partial aggregate; the forecast join and
    // scoring run on the ≤ years×12-row frame.
    Q("q150_seasonal_backtest",
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |         CAST(month(o_orderdate) AS INT) AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |j AS (
        |  SELECT a.y, a.mo, a.rev AS actual, f.rev AS forecast
        |  FROM m a JOIN m f ON f.y = a.y - 1 AND f.mo = a.mo)
        |SELECT count(*) AS n_evaluated,
        |       CAST(sum(abs(actual - forecast)) AS BIGINT)
        |         AS sum_abs_err_cents,
        |       CAST(sum(actual - forecast) AS BIGINT) AS sum_err_cents,
        |       round(avg(abs(actual - forecast) / CAST(actual AS DOUBLE)), 6)
        |         AS mape
        |FROM j""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      m.select(col("y"), col("mo"), col("rev").as("actual"))
        .join(broadcast(m.select((col("y") + 1).as("y"), col("mo"),
          col("rev").as("forecast"))), Seq("y", "mo"))
        .agg(count(lit(1)).as("n_evaluated"),
          sum(abs(col("actual") - col("forecast"))).cast("long")
            .as("sum_abs_err_cents"),
          sum(col("actual") - col("forecast")).cast("long")
            .as("sum_err_cents"),
          round(avg(abs(col("actual") - col("forecast")) /
            col("actual").cast("double")), 6).as("mape"))
    },

    // Discount elasticity by brand — does a deeper discount move more
    // units? Per-brand Pearson correlation between discount and quantity
    // plus the mean quantity on either side of the 5% discount line. The
    // brand dimension broadcasts (q04's star-join shape); one fact scan
    // partial-aggregates all four statistics per brand — corr's moment
    // sums and the conditional means share the exchange.
    Q("q151_discount_elasticity",
      """SELECT p_brand,
        |       count(*) AS n_lines,
        |       round(corr(l_discount, l_quantity), 6) AS disc_qty_corr,
        |       round(avg(CASE WHEN l_discount >= 0.05 THEN l_quantity END), 6)
        |         AS avg_qty_hi_disc,
        |       round(avg(CASE WHEN l_discount < 0.05 THEN l_quantity END), 6)
        |         AS avg_qty_lo_disc
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(corr(col("l_discount"), col("l_quantity")), 6)
            .as("disc_qty_corr"),
          round(avg(when(col("l_discount") >= 0.05, col("l_quantity"))), 6)
            .as("avg_qty_hi_disc"),
          round(avg(when(col("l_discount") < 0.05, col("l_quantity"))), 6)
            .as("avg_qty_lo_disc"))
        .orderBy("p_brand")
    },

    // Exponentially-weighted moving average of monthly revenue — the
    // smoother a demand planner lays over q149's seasonal profile (α = ½,
    // truncated at 12 months). The recursion is unrolled into an EXACT
    // integer form: weight 2^(11−lag) is an integer, so numerator,
    // denominator AND the final half-up rounding (2·num + den) ÷ (2·den)
    // are all BIGINT arithmetic — no float ever crosses engines (rounding
    // the ~1e10-cent quotient at 6 decimals sits at double's ulp and
    // flipped the last digit between engines). Scale shape: the corpus reduces
    // to a ≤|months|-row frame in one partial-aggregated scan; the
    // 12-wide band self-join runs on that tiny frame with the dimension
    // side broadcast — nothing quadratic ever touches the fact table.
    Q("q162_ewma_trend",
      """WITH m0 AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |         CAST(month(o_orderdate) AS INT) AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT y, mo, rev, y * 12 + mo AS idx FROM m0),
        |j AS (
        |  SELECT i.y, i.mo, i.rev,
        |         CAST(sum(p.rev * CAST(power(2, 11 - (i.idx - p.idx))
        |                               AS BIGINT)) AS BIGINT) AS num,
        |         CAST(sum(CAST(power(2, 11 - (i.idx - p.idx)) AS BIGINT))
        |              AS BIGINT) AS den
        |  FROM m i JOIN m p ON p.idx BETWEEN i.idx - 11 AND i.idx
        |  GROUP BY 1, 2, 3)
        |SELECT y, mo, rev AS rev_cents,
        |       CAST((2 * num + den) // (2 * den) AS BIGINT) AS ewma_cents
        |FROM j ORDER BY y, mo""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
        .withColumn("idx", col("y") * 12 + col("mo"))
      val past = broadcast(m.select(col("idx").as("jdx"),
        col("rev").as("jrev")))
      val w = pow(lit(2.0), lit(11) - (col("idx") - col("jdx"))).cast("long")
      m.join(past,
          col("jdx") >= col("idx") - 11 && col("jdx") <= col("idx"))
        .groupBy(col("y"), col("mo"), col("rev"))
        .agg(sum(col("jrev") * w).cast("long").as("num"),
          sum(w).cast("long").as("den"))
        .select(col("y"), col("mo"), col("rev").as("rev_cents"),
          expr("CAST((2 * num + den) div (2 * den) AS BIGINT)")
            .as("ewma_cents"))
        .orderBy("y", "mo")
    },

    // Hierarchical top-down forecast allocation — the reconciliation step
    // after a region-level forecast: scale each region's 1997 revenue by
    // 7% and allocate it to the region's nations proportional to their
    // history, with LARGEST-REMAINDER integer rounding so the nation
    // allocations sum EXACTLY to the regional forecast (the invariant a
    // planning system must hold; naive per-nation rounding drifts by up
    // to |nations| dollars). All arithmetic is exact BIGINT dollars:
    // base = ⌊F·h/R⌋, and the F − Σbase leftover units go to the largest
    // remainders (F·h mod R), ties to the lower nation key. Scale shape:
    // the fact table reduces to one row per nation in a partial-aggregated
    // scan; every window runs on that ≤|nations| frame partitioned by
    // region. The F·h product scales QUADRATICALLY with data (both factors
    // are linear in revenue): at sf1 it reaches ~4e20 > 2^63 and crashed
    // the round-10 scale smoke as a BIGINT — so the two mul/div steps run
    // in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), which holds to ~1e38,
    // i.e. ~1e9× this corpus' revenue. Only base/frac/alloc — all < rtot
    // or < fcast, linear quantities — come back down to BIGINT.
    Q("q178_topdown_allocation",
      """WITH nt AS (
        |  SELECT n_regionkey AS rk, c_nationkey AS nk,
        |         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
        |           AS hist
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE year(o_orderdate) = 1997 GROUP BY 1, 2),
        |rt AS (
        |  SELECT rk, CAST(sum(hist) AS BIGINT) AS rtot,
        |         CAST((sum(hist) * 107) // 100 AS BIGINT) AS fcast
        |  FROM nt GROUP BY 1),
        |a AS (
        |  SELECT nt.rk, nk, hist, rtot, fcast,
        |         CAST((CAST(fcast AS HUGEINT) * hist) // rtot AS BIGINT) AS base,
        |         CAST((CAST(fcast AS HUGEINT) * hist) % rtot AS BIGINT) AS frac
        |  FROM nt JOIN rt ON nt.rk = rt.rk),
        |rmd AS (
        |  SELECT rk, CAST(max(fcast) - sum(base) AS BIGINT) AS extra
        |  FROM a GROUP BY 1),
        |rnk AS (
        |  SELECT a.rk, a.nk, a.hist, a.base, rmd.extra,
        |         row_number() OVER (PARTITION BY a.rk
        |                            ORDER BY a.frac DESC, a.nk) AS rn
        |  FROM a JOIN rmd ON a.rk = rmd.rk)
        |SELECT rk, nk, hist,
        |       CAST(base + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS BIGINT)
        |         AS alloc
        |FROM rnk ORDER BY rk, nk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val nt = Tables.orders(s, d)
        // half-open range, not year() = 1997: the range form reaches the
        // parquet scan as PushedFilters (a function call never does)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").as("rk"), col("c_nationkey").as("nk"))
        .agg(sum(round(col("o_totalprice"), 0).cast("long")).cast("long")
          .as("hist"))
      val rt = nt.groupBy(col("rk"))
        .agg(sum(col("hist")).cast("long").as("rtot"),
          expr("CAST((sum(hist) * 107) div 100 AS BIGINT)").as("fcast"))
      val a = nt.join(broadcast(rt), "rk")
        .withColumn("base",
          expr("CAST((CAST(fcast AS DECIMAL(38,0)) * hist) div rtot AS BIGINT)"))
        .withColumn("frac",
          expr("CAST((CAST(fcast AS DECIMAL(38,0)) * hist) % rtot AS BIGINT)"))
      val rmd = a.groupBy(col("rk"))
        .agg((max(col("fcast")) - sum(col("base"))).cast("long").as("extra"))
      val rn = org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy(col("rk"))
          .orderBy(col("frac").desc, col("nk")))
      a.join(broadcast(rmd), "rk")
        .withColumn("rn", rn)
        .select(col("rk"), col("nk"), col("hist"),
          (col("base") + when(col("rn") <= col("extra"), 1L).otherwise(0L))
            .cast("long").as("alloc"))
        .orderBy(col("rk"), col("nk"))
    },

    // Laspeyres price index by ship month over 1997 — "how much more do
    // January's quantities cost in month t": Σ p_t·q_base / Σ p_base·q_base
    // over the parts shipped in both months. Scale shape: lineitem reduces
    // to one (part, month) row of exact cent/quantity sums in a single
    // partial-aggregated scan; the base join is a co-partitioned hash join
    // on part key; only the 12-row index frame leaves the aggregation. The
    // denominator is the exact BIGINT Σ ext_base (no float identity
    // (e/q)·q ≈ e is relied on); the numerator is the one float sum, and
    // the index rounds at 6.
    Q("q179_price_index",
      """WITH pm AS (
        |  SELECT l_partkey AS pk, CAST(month(l_shipdate) AS INT) AS mo,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS ext,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1, 2),
        |b AS (SELECT pk, ext AS ext0, qty AS qty0 FROM pm WHERE mo = 1)
        |SELECT pm.mo, CAST(count(*) AS BIGINT) AS n_parts,
        |       round(sum(CAST(pm.ext AS DOUBLE) / pm.qty * b.qty0)
        |             / CAST(sum(b.ext0) AS DOUBLE), 6) AS laspeyres
        |FROM pm JOIN b ON pm.pk = b.pk
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pm = Tables.lineitem(s, d)
        // range form for parquet pushdown (see q178)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy(col("l_partkey").as("pk"),
          month(col("l_shipdate")).cast("int").as("mo"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .cast("long").as("ext"),
          sum(col("l_quantity").cast("long")).cast("long").as("qty"))
      val b = pm.filter(col("mo") === 1)
        .select(col("pk"), col("ext").as("ext0"), col("qty").as("qty0"))
      pm.join(b, "pk")
        .groupBy(col("mo"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          round(sum(col("ext").cast("double") / col("qty") * col("qty0"))
            / sum(col("ext0")).cast("double"), 6).as("laspeyres"))
        .orderBy(col("mo"))
    },

    // Recency-weighted customer lifetime value — the CRM ranking where a
    // dollar spent this year outweighs one spent six years ago (weight
    // halves per year of age). The q162 exactness trick at per-customer
    // scale: with the corpus spanning 1995–2001, weight 2^(yr−1995) is an
    // integer, so the ×64-scaled LTV Σ rev·2^(yr−1995) stays in exact
    // BIGINT cents — no float ever crosses engines. Scale shape: one
    // partial-aggregated groupBy on customer key (rev and weight fold
    // map-side), then a TakeOrdered top-20 — never a global sort of the
    // customer frame.
    Q("q186_recency_ltv",
      """SELECT o_custkey,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |            AS BIGINT) AS raw_cents,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                * CAST(power(2, year(o_orderdate) - 1995) AS BIGINT))
        |            AS BIGINT) AS ltv_x64_cents
        |FROM orders GROUP BY 1
        |ORDER BY ltv_x64_cents DESC, o_custkey LIMIT 20""".stripMargin) {
      (s, d) =>
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val w = pow(lit(2.0), year(col("o_orderdate")) - 1995).cast("long")
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(cents).cast("long").as("raw_cents"),
          sum(cents * w).cast("long").as("ltv_x64_cents"))
        .orderBy(col("ltv_x64_cents").desc, col("o_custkey"))
        .limit(20)
    },

    // Interval-overlap occupancy (sweep line) — "how many shipments are
    // in transit at once", the warehouse-capacity question no windowed
    // count answers (intervals overlap arbitrarily). Each line occupies
    // [shipdate, shipdate + (suppkey mod 10 + 1) days) — a deterministic
    // synthetic duration, the corpus carries no receipt date. Scale
    // shape: ONE scan explodes each interval to two (day, ±1) endpoint
    // deltas that partial-aggregate map-side onto the DAY DOMAIN (a few
    // thousand rows regardless of corpus size); the running occupancy is
    // a window over that domain-bounded frame (the only SinglePartition,
    // fed by the aggregate), and the per-month maxima reduce it further.
    // Occupancy only changes at endpoint days, so the per-month max over
    // delta days is exact.
    Q("q188_transit_occupancy",
      """WITH iv AS (
        |  SELECT CAST(l_shipdate AS DATE) AS s,
        |         CAST(l_shipdate AS DATE)
        |           + CAST(l_suppkey % 10 + 1 AS INT) AS e
        |  FROM lineitem),
        |d AS (
        |  SELECT s AS day, CAST(count(*) AS BIGINT) AS delta
        |  FROM iv GROUP BY 1
        |  UNION ALL
        |  SELECT e AS day, -CAST(count(*) AS BIGINT) FROM iv GROUP BY 1),
        |dd AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta
        |       FROM d GROUP BY 1),
        |r AS (SELECT day, sum(delta) OVER (ORDER BY day) AS occ FROM dd)
        |SELECT CAST(year(day) AS INT) AS y, CAST(month(day) AS INT) AS mo,
        |       CAST(max(occ) AS BIGINT) AS max_in_transit
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sd = to_date(col("l_shipdate"))
      val deltas = Tables.lineitem(s, d)
        .select(explode(array(
          struct(sd.as("day"), lit(1L).as("w")),
          struct(date_add(sd, (col("l_suppkey") % 10 + 1).cast("int"))
            .as("day"), lit(-1L).as("w")))).as("x"))
        .groupBy(col("x.day").as("day"))
        .agg(sum(col("x.w")).cast("long").as("delta"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      deltas
        .withColumn("occ", sum(col("delta")).over(w))
        .groupBy(year(col("day")).cast("int").as("y"),
          month(col("day")).cast("int").as("mo"))
        .agg(max(col("occ")).cast("long").as("max_in_transit"))
        .orderBy(col("y"), col("mo"))
    },

    // Order-to-first-ship SLA attainment by priority — the operational
    // service-level read: days from order placement to the order's FIRST
    // line shipping, bucketed against 7/30-day SLAs per priority class.
    // Scale shape: lineitem reduces to one min-shipdate row per order in
    // a partial-aggregated pass, the orders join is co-partitioned on the
    // order key, and the priority rollup is a five-row aggregate. Lag
    // days are exact integers (datediff); shares round at 6.
    Q("q190_ship_sla",
      """WITH fs AS (
        |  SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        |  FROM lineitem GROUP BY 1),
        |lag AS (
        |  SELECT o_orderpriority AS priority,
        |         date_diff('day', CAST(o_orderdate AS DATE), first_ship)
        |           AS days
        |  FROM orders JOIN fs ON o_orderkey = l_orderkey)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN days <= 7 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_within_7d,
        |       CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_within_30d,
        |       CAST(max(days) AS BIGINT) AS max_days,
        |       round(CAST(sum(CASE WHEN days <= 7 THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS sla7_share
        |FROM lag GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val fs = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
      Tables.orders(s, d)
        .join(fs, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("first_ship"), to_date(col("o_orderdate")))
            .as("days"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(when(col("days") <= 7, 1).otherwise(0)).cast("long")
            .as("n_within_7d"),
          sum(when(col("days") <= 30, 1).otherwise(0)).cast("long")
            .as("n_within_30d"),
          max(col("days")).cast("long").as("max_days"),
          round(sum(when(col("days") <= 7, 1).otherwise(0)).cast("double")
            / count(lit(1)), 6).as("sla7_share"))
        .orderBy(col("priority"))
    },

    // Holt linear (double-exponential) smoothing — the trend-aware
    // forecaster one step past q162's EWMA (which flattens any trend):
    //   ℓ_t = α·y_t + (1−α)(ℓ_{t−1}+b_{t−1}),  b_t = β(ℓ_t−ℓ_{t−1}) + (1−β)b_{t−1}
    // with α=0.5, β=0.25, ℓ₁=y₁, b₁=0, h-step forecast ℓ_T + h·b_T. The
    // recurrence is inherently sequential IN TIME but the series is
    // per-priority monthly revenue — a frame bounded by the CALENDAR
    // (≤|months| rows per series at any corpus size), so each group's
    // fold runs map-side as one `aggregate` higher-order fold over its
    // sorted (month, revenue) array: the corpus reduces in one
    // partial-aggregated scan, arrays never exceed the month count, and
    // no window or driver loop appears anywhere. The oracle re-runs the
    // identical recurrence as a recursive CTE — independent mechanics,
    // same fold ORDER and the same double expression tree, so values
    // match bit-for-bit; outputs go through [[fl6]]'s deterministic
    // floor-rounding (plain round(6) flipped a final digit cross-engine
    // when one fold landed at a decimal midpoint).
    Q("q220_holt_trend",
      """WITH RECURSIVE m0 AS (
        |  SELECT o_orderpriority AS prio,
        |         year(o_orderdate) * 12 + month(o_orderdate) AS ym,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT prio, rev,
        |         row_number() OVER (PARTITION BY prio ORDER BY ym) AS i
        |  FROM m0),
        |rec AS (
        |  SELECT prio, i, CAST(rev AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM m WHERE i = 1
        |  UNION ALL
        |  SELECT m.prio, m.i,
        |         0.5 * m.rev + 0.5 * (r.l + r.b),
        |         0.25 * ((0.5 * m.rev + 0.5 * (r.l + r.b)) - r.l)
        |           + 0.75 * r.b
        |  FROM rec r JOIN m ON m.prio = r.prio AND m.i = r.i + 1),
        |last AS (
        |  SELECT prio, i AS n_months, l, b FROM rec
        |  QUALIFY row_number() OVER (PARTITION BY prio ORDER BY i DESC) = 1)
        |SELECT prio, CAST(n_months AS BIGINT) AS n_months,
        |       floor(l * 1000000 + 0.5) / 1000000 AS level_cents,
        |       floor(b * 1000000 + 0.5) / 1000000 AS trend_cents,
        |       floor((l + 1 * b) * 1000000 + 0.5) / 1000000 AS fc1,
        |       floor((l + 2 * b) * 1000000 + 0.5) / 1000000 AS fc2,
        |       floor((l + 3 * b) * 1000000 + 0.5) / 1000000 AS fc3
        |FROM last ORDER BY prio""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("ym"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      m.groupBy(col("prio"))
        .agg(sort_array(collect_list(struct(col("ym"), col("rev"))))
          .as("arr"))
        .withColumn("acc", expr(
          """aggregate(arr,
            |  named_struct('l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
            |               'init', false),
            |  (acc, x) -> IF(NOT acc.init,
            |    named_struct('l', CAST(x.rev AS DOUBLE),
            |                 'b', CAST(0 AS DOUBLE), 'init', true),
            |    named_struct(
            |      'l', 0.5 * x.rev + 0.5 * (acc.l + acc.b),
            |      'b', 0.25 * ((0.5 * x.rev + 0.5 * (acc.l + acc.b)) - acc.l)
            |             + 0.75 * acc.b,
            |      'init', true)))""".stripMargin))
        .select(col("prio"), size(col("arr")).cast("long").as("n_months"),
          fl6(col("acc.l")).as("level_cents"),
          fl6(col("acc.b")).as("trend_cents"),
          fl6(col("acc.l") + lit(1) * col("acc.b")).as("fc1"),
          fl6(col("acc.l") + lit(2) * col("acc.b")).as("fc2"),
          fl6(col("acc.l") + lit(3) * col("acc.b")).as("fc3"))
        .orderBy(col("prio"))
    },

    // Order-backlog waterline (Lindley recursion) — queueing's answer to
    // "how far behind does each supplier fall if they can fulfil a fixed
    // daily quantity?": backlog_t = max(0, backlog_{t−1} + demand_t − cap).
    // The clamp-at-zero makes the recursion look sequential, but the
    // one-sided clamp has an exact closed form over prefix sums
    // (the Lindley/Skorokhod reflection):  b_t = P_t − min(0, min_{k≤t} P_k),
    // P = running Σ(demand − cap) — so the whole computation is two
    // per-supplier ordered windows (running sum, running min) that
    // partition BY SUPPLIER and parallelize across them; no iteration, no
    // unbounded state. Capacity is the supplier's ceiling-average daily
    // demand over its active days (exact integer ⌈tot/nd⌉), demand is
    // exact BIGINT quantity, so every backlog value is an exact integer in
    // both engines; the peak row ties break to the earliest day.
    Q("q222_backlog_waterline",
      """WITH dd AS (
        |  SELECT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS day,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS dem
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT sk, CAST(sum(dem) AS BIGINT) AS tot, count(*) AS nd
        |  FROM dd GROUP BY 1),
        |cap AS (SELECT sk, nd, (tot + nd - 1) // nd AS cap FROM c),
        |p AS (
        |  SELECT dd.sk, dd.day, cap.cap, cap.nd,
        |         sum(dd.dem - cap.cap) OVER (PARTITION BY dd.sk
        |           ORDER BY dd.day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
        |  FROM dd JOIN cap USING (sk)),
        |b AS (
        |  SELECT sk, day, cap, nd,
        |         pf - least(min(pf) OVER (PARTITION BY sk ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |           AS bl
        |  FROM p),
        |r AS (
        |  SELECT sk, day, cap, nd, bl,
        |         row_number() OVER (PARTITION BY sk
        |                            ORDER BY bl DESC, day) AS rn,
        |         sum(CASE WHEN bl > 0 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY sk) AS nbk
        |  FROM b)
        |SELECT CAST(sk AS BIGINT) AS s_suppkey,
        |       CAST(nd AS BIGINT) AS n_days, CAST(cap AS BIGINT) AS cap_qty,
        |       CAST(bl AS BIGINT) AS peak_backlog, day AS peak_day,
        |       CAST(nbk AS BIGINT) AS days_backlogged
        |FROM r WHERE rn = 1 ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dd = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("sk"),
          col("l_shipdate").cast("date").as("day"))
        .agg(sum(col("l_quantity").cast("long")).cast("long").as("dem"))
      val cap = dd.groupBy(col("sk"))
        .agg(sum(col("dem")).cast("long").as("tot"),
          count(lit(1)).as("nd"))
        .select(col("sk"), col("nd"),
          expr("CAST((tot + nd - 1) div nd AS BIGINT)").as("cap"))
      val wRun = Window.partitionBy(col("sk")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val b = dd.join(broadcast(cap), "sk")
        .withColumn("pf", sum(col("dem") - col("cap")).over(wRun))
        .withColumn("bl",
          col("pf") - least(min(col("pf")).over(wRun), lit(0L)))
      val wPeak = Window.partitionBy(col("sk"))
        .orderBy(desc("bl"), asc("day"))
      b.withColumn("rn", row_number().over(wPeak))
        .withColumn("nbk", sum(when(col("bl") > 0, 1L).otherwise(0L))
          .over(Window.partitionBy(col("sk"))))
        .filter(col("rn") === 1)
        .select(col("sk").cast("long").as("s_suppkey"),
          col("nd").cast("long").as("n_days"),
          col("cap").cast("long").as("cap_qty"),
          col("bl").cast("long").as("peak_backlog"),
          col("day").as("peak_day"),
          col("nbk").cast("long").as("days_backlogged"))
        .orderBy(col("s_suppkey"))
    },

    // ABC inventory classification (Pareto analysis): class A = the parts
    // whose revenue accumulates the first 80% (before their own
    // contribution), B the next 15%, C the tail — the planner's standard
    // triage of which SKUs deserve tight stock control. Needs a GLOBAL
    // cumulative sum in revenue-descending order, which the naive window
    // plans as one Exchange SinglePartition over EVERY part — the q148
    // ntile scale-killer. Instead the q130 block-offset topology, revenue-
    // descending: range-repartition on (rev DESC, pk), per-partition
    // running sums in a fully parallel pid-partitioned window, and a ≤32-
    // row running block-offset table broadcast back (the only
    // SinglePartition in the plan carries 32 aggregate rows). Class
    // boundaries compare in EXACT integers (cumb·5 < tot·4 ⇔ share < 0.8),
    // so no float sits anywhere near the classification decision.
    Q("q223_abc_classes",
      """WITH per AS (
        |  SELECT l_partkey AS pk,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM per),
        |c AS (
        |  SELECT pk, rev,
        |         sum(rev) OVER (ORDER BY rev DESC, pk
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev
        |           AS cumb
        |  FROM per),
        |k AS (
        |  SELECT CASE WHEN cumb * 5 < tot * 4 THEN 'A'
        |              WHEN cumb * 20 < tot * 19 THEN 'B'
        |              ELSE 'C' END AS abc_class, rev, tot
        |  FROM c, t)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(rev) AS BIGINT) AS class_rev_cents,
        |       round(sum(rev) / CAST(min(tot) AS DOUBLE), 6) AS rev_share
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      val ranked =
        Ranks.globalCumSum(per, 32, col("rev"), col("rev").desc, col("pk"))
      // the total reads the per-part rows globalCumSum's checkpoint holds;
      // an aggregate over `per` would rescan lineitem in the sink
      val tot = ranked.agg(sum(col("rev")).cast("long").as("tot"))
      ranked.withColumn("cumb", col("cum") - col("rev"))
        .join(broadcast(tot), lit(true))
        .withColumn("abc_class",
          when(col("cumb") * 5 < col("tot") * 4, "A")
            .when(col("cumb") * 20 < col("tot") * 19, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          sum(col("rev")).cast("long").as("class_rev_cents"),
          round(sum(col("rev")) / min(col("tot")).cast("double"), 6)
            .as("rev_share"))
        .orderBy(col("abc_class"))
    },

    // Year-over-year same-month comparison — the report every revenue
    // dashboard opens with, with the two traps handled explicitly: months
    // without a prior-year counterpart emit NULL (not 0, not dropped), and
    // the percent change is computed from EXACT integer cents so a penny
    // drift can't compound into a visible YoY tenth. Scale shape: one
    // partial-aggregated scan to the calendar-bounded month frame; the
    // prior-year lookup is a self-join of that bounded frame on
    // (y−1, mo) — broadcast, no window, no shuffle of fact rows.
    Q("q235_yoy_revenue",
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |         CAST(month(o_orderdate) AS INT) AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT c.y, c.mo, c.rev AS rev_cents, p.rev AS prev_rev_cents,
        |       round((c.rev - p.rev) * 100.0 / p.rev, 6) AS yoy_pct
        |FROM m c LEFT JOIN m p ON p.y = c.y - 1 AND p.mo = c.mo
        |ORDER BY c.y, c.mo""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
        // ckpt(a): q235 both join sides; lazy 1.2× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      val p = m.select(col("y").as("py"), col("mo").as("pmo"),
        col("rev").as("prev_rev_cents"))
      m.join(broadcast(p),
          col("py") === col("y") - 1 && col("pmo") === col("mo"), "left")
        .select(col("y"), col("mo"), col("rev").as("rev_cents"),
          col("prev_rev_cents"),
          round((col("rev") - col("prev_rev_cents")) * lit(100.0)
            / col("prev_rev_cents"), 6).as("yoy_pct"))
        .orderBy(col("y"), col("mo"))
    },

    // Growth-share (BCG) portfolio matrix at the brand grain: 1998 revenue
    // share (vs the median brand — the relative-share axis) × YoY growth
    // sign classify each brand as star / cash_cow / question_mark / dog.
    // Exact-cent revenue cells from one star-join scan; the median share
    // threshold is an exact interpolating percentile over the ≤|brands|
    // frame, broadcast back; share comparisons happen on identical
    // BIGINT-ratio doubles in both engines. The classic portfolio review,
    // derived end-to-end from the fact table.
    Q("q254_growth_share",
      """WITH b AS (
        |  SELECT p_brand AS brand,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1997
        |                  THEN CAST(round(l_extendedprice * 100, 0)
        |                            AS BIGINT) ELSE 0 END) AS BIGINT)
        |           AS rev97,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1998
        |                  THEN CAST(round(l_extendedprice * 100, 0)
        |                            AS BIGINT) ELSE 0 END) AS BIGINT)
        |           AS rev98
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |m AS (SELECT quantile_cont(rev98, 0.5) AS med FROM b)
        |SELECT brand, rev97 AS rev97_cents, rev98 AS rev98_cents,
        |       CASE WHEN rev98 >= med AND rev98 > rev97 THEN 'star'
        |            WHEN rev98 >= med THEN 'cash_cow'
        |            WHEN rev98 > rev97 THEN 'question_mark'
        |            ELSE 'dog' END AS quadrant
        |FROM b, m ORDER BY brand""".stripMargin) { (s, d) =>
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val b = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(when(year(col("l_shipdate")) === 1997, cents)
          .otherwise(0L)).cast("long").as("rev97"),
          sum(when(year(col("l_shipdate")) === 1998, cents)
            .otherwise(0L)).cast("long").as("rev98"))
      val m = b.agg(expr("percentile(rev98, 0.5)").as("med"))
      b.join(broadcast(m), lit(true))
        .select(col("brand"), col("rev97").as("rev97_cents"),
          col("rev98").as("rev98_cents"),
          when(col("rev98") >= col("med") && col("rev98") > col("rev97"),
            "star")
            .when(col("rev98") >= col("med"), "cash_cow")
            .when(col("rev98") > col("rev97"), "question_mark")
            .otherwise("dog").as("quadrant"))
        .orderBy(col("brand"))
    },

    // Dead-stock screen — the inventory writedown candidate list: parts
    // with purchase history but NO shipment in the final year of the
    // corpus, with the revenue base they historically carried. One
    // per-part max-shipdate reduction (partial map-side), a broadcast of
    // the single max-date row, and exact-cent totals; at 100 TB this is
    // a scan + one |parts|-row frame, no window, no second fact pass.
    Q("q255_dead_stock",
      """WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS mxd
        |            FROM lineitem),
        |p AS (
        |  SELECT l_partkey,
        |         max(CAST(l_shipdate AS DATE)) AS last_ship,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |f AS (SELECT p.*, (SELECT mxd FROM mx) AS mxd FROM p)
        |SELECT CAST(sum(CASE WHEN last_ship < mxd - 365 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_dead,
        |       CAST(sum(CASE WHEN last_ship < mxd - 365 THEN 0 ELSE 1 END)
        |            AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN last_ship < mxd - 365 THEN rev
        |                ELSE 0 END) AS BIGINT) AS dead_rev_cents,
        |       round(sum(CASE WHEN last_ship < mxd - 365 THEN rev
        |                 ELSE 0 END)
        |             / CAST(sum(rev) AS DOUBLE), 6) AS dead_rev_share
        |FROM f""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val mx = li.agg(max(col("l_shipdate").cast("date")).as("mxd"))
      val dead = col("last_ship") < date_sub(col("mxd"), 365)
      li.groupBy(col("l_partkey"))
        .agg(max(col("l_shipdate").cast("date")).as("last_ship"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long").as("rev"))
        .join(broadcast(mx), lit(true))
        .agg(sum(when(dead, 1L).otherwise(0L)).cast("long").as("n_dead"),
          sum(when(dead, 0L).otherwise(1L)).cast("long").as("n_active"),
          sum(when(dead, col("rev")).otherwise(0L)).cast("long")
            .as("dead_rev_cents"),
          round(sum(when(dead, col("rev")).otherwise(0L))
            / sum(col("rev")).cast("double"), 6).as("dead_rev_share"))
    },

    // Charm-pricing audit — are price endings engineered (.99/.95/.00
    // clustering) or organic? Cent endings (price mod 100) from exact
    // cents, the three charm cells, and a χ² uniformity statistic over
    // all 100 endings (e = n/100 each; df = 99, α = 0.05 critical value
    // 123.225): a synthetic pricing process should FAIL to reject.
    // χ² = Σo²/e − n expands over exact integer cell counts; ONE
    // conditional-sum scan, a 100-row cell frame.
    Q("q263_price_endings",
      """WITH x AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) % 100
        |           AS ending
        |  FROM lineitem),
        |c AS (SELECT ending, count(*) AS o FROM x GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |             sum(CAST(o AS DOUBLE) * o) AS o2 FROM c)
        |SELECT n AS n_lines,
        |       (SELECT CAST(coalesce(sum(o), 0) AS BIGINT) FROM c
        |        WHERE ending = 99) AS n_99,
        |       (SELECT CAST(coalesce(sum(o), 0) AS BIGINT) FROM c
        |        WHERE ending = 95) AS n_95,
        |       (SELECT CAST(coalesce(sum(o), 0) AS BIGINT) FROM c
        |        WHERE ending = 0) AS n_00,
        |       round(o2 / (n / 100.0) - n, 2) AS chi2_uniform,
        |       o2 / (n / 100.0) - n > 123.225 AS reject_uniform
        |FROM t""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d)
        .select((round(col("l_extendedprice") * 100, 0).cast("long") % 100)
          .as("ending"))
        .groupBy(col("ending")).agg(count(lit(1)).as("o"))
        // ckpt(a): q263 totals + charm cells; lazy 1.25× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      def cell(e: Int) = c.filter(col("ending") === e)
        .agg(coalesce(sum(col("o")), lit(0L)).cast("long").as(s"n_$e"))
      val t = c.agg(sum(col("o")).cast("long").as("n"),
        sum(col("o").cast("double") * col("o")).as("o2"))
      val chi2 = col("o2") / (col("n") / 100.0) - col("n")
      t.join(broadcast(cell(99)), lit(true))
        .join(broadcast(cell(95)), lit(true))
        .join(broadcast(cell(0)), lit(true))
        .select(col("n").as("n_lines"), col("n_99"), col("n_95"),
          col("n_0").as("n_00"),
          round(chi2, 2).as("chi2_uniform"),
          (chi2 > 123.225).as("reject_uniform"))
    },

    // Supplier-concentration HHI per brand (Herfindahl-Hirschman index —
    // the antitrust workhorse): Σ over suppliers of squared revenue
    // share within the brand, plus the equivalent-supplier count 1/HHI.
    // HHI = Σ rev_s² / (Σ rev_s)² stays a ratio of exact BIGINT sums
    // until the final division. One star-join scan reduces to
    // (brand, supplier) cells; everything after re-aggregates that
    // bounded frame.
    Q("q265_brand_hhi",
      """WITH c AS (
        |  SELECT p_brand AS brand, l_suppkey AS sk,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT brand, CAST(count(*) AS BIGINT) AS n_suppliers,
        |       CAST(sum(rev) AS BIGINT) AS rev_cents,
        |       round(sum(CAST(rev AS DOUBLE) * rev)
        |             / (CAST(sum(rev) AS DOUBLE) * sum(rev)), 6) AS hhi,
        |       round((CAST(sum(rev) AS DOUBLE) * sum(rev))
        |             / sum(CAST(rev AS DOUBLE) * rev), 2) AS eff_suppliers
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("l_suppkey").as("sk"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
        .groupBy(col("brand"))
        .agg(count(lit(1)).cast("long").as("n_suppliers"),
          sum(col("rev")).cast("long").as("rev_cents"),
          round(sum(col("rev").cast("double") * col("rev"))
            / (sum(col("rev")).cast("double") * sum(col("rev"))), 6)
            .as("hhi"),
          round((sum(col("rev")).cast("double") * sum(col("rev")))
            / sum(col("rev").cast("double") * col("rev")), 2)
            .as("eff_suppliers"))
        .orderBy(col("brand"))
    },

    // Leaderboard churn — how stable is the "top 5 parts by revenue"
    // board year over year? Each year's top 5 is a row_number window that
    // Spark limits per group (heap-pruned, as in q244: each partition
    // forwards at most 5 rows per year to the exchange); consecutive
    // years' sets then join on part to count survivors and the churn
    // Jaccard. Ties break (rev desc, partkey) in both engines.
    Q("q271_leaderboard_churn",
      """WITH y AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS y, l_partkey AS pk,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (
        |  SELECT y, pk, rev, row_number() OVER (PARTITION BY y
        |           ORDER BY rev DESC, pk) AS rn
        |  FROM y),
        |top5 AS (SELECT y, pk FROM t WHERE rn <= 5),
        |j AS (
        |  SELECT b.y, count(*) AS n_kept
        |  FROM top5 a JOIN top5 b ON b.y = a.y + 1 AND a.pk = b.pk
        |  GROUP BY 1),
        |yrs AS (SELECT DISTINCT y FROM top5 WHERE y > (SELECT min(y)
        |                                              FROM top5))
        |SELECT yrs.y AS year, CAST(coalesce(j.n_kept, 0) AS BIGINT)
        |         AS n_kept,
        |       CAST(5 - coalesce(j.n_kept, 0) AS BIGINT) AS n_new,
        |       round(coalesce(j.n_kept, 0)
        |             / CAST(10 - coalesce(j.n_kept, 0) AS DOUBLE), 6)
        |         AS jaccard
        |FROM yrs LEFT JOIN j ON yrs.y = j.y ORDER BY year""".stripMargin) {
      (s, d) =>
      val yearly = Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).cast("int").as("y"),
          col("l_partkey").as("pk"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("y"))
        .orderBy(col("rev").desc, col("pk"))
      val top5 = yearly.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).select(col("y"), col("pk"))
      val mn = top5.agg(min(col("y")).as("mny"))
      val j = top5.toDF("ya", "pk")
        .join(top5.toDF("yb", "pk2"),
          col("yb") === col("ya") + 1 && col("pk") === col("pk2"))
        .groupBy(col("yb").as("y")).agg(count(lit(1)).as("n_kept"))
      top5.select(col("y")).distinct()
        .join(broadcast(mn), lit(true)).filter(col("y") > col("mny"))
        .join(broadcast(j), Seq("y"), "left")
        .select(col("y").as("year"),
          coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
          (lit(5) - coalesce(col("n_kept"), lit(0L))).cast("long")
            .as("n_new"),
          round(coalesce(col("n_kept"), lit(0L)) /
            (lit(10) - coalesce(col("n_kept"), lit(0L))).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("year"))
    },

    // Price-volume revenue bridge — the FP&A waterfall behind every
    // "why did revenue move" review: per brand, the 1997→1998 revenue
    // delta decomposes EXACTLY as
    //   Δrev = Δp·q₀ (price effect) + Δq·p₀ (volume effect) + Δp·Δq (mix),
    // with p = rev/qty the realized unit price. Cells are exact BIGINT
    // cents/quantities from one star-join scan; the three effects are the
    // same double expressions both engines, and the identity is exact in
    // real arithmetic (spec pins the double residual). Brands missing a
    // year emit NULL effects rather than a fake zero.
    Q("q274_revenue_bridge",
      """WITH c AS (
        |  SELECT p_brand AS brand,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1997
        |                  THEN CAST(round(l_extendedprice * 100, 0)
        |                            AS BIGINT) ELSE 0 END) AS BIGINT) AS r0,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1997
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
        |              AS BIGINT) AS q0,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1998
        |                  THEN CAST(round(l_extendedprice * 100, 0)
        |                            AS BIGINT) ELSE 0 END) AS BIGINT) AS r1,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1998
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
        |              AS BIGINT) AS q1
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
        |SELECT brand, CAST(r1 - r0 AS BIGINT) AS delta_rev_cents,
        |       round(CASE WHEN q0 > 0 AND q1 > 0 THEN
        |         (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0) * q0
        |         END, 2) AS price_effect,
        |       round(CASE WHEN q0 > 0 AND q1 > 0 THEN
        |         (q1 - q0) * (CAST(r0 AS DOUBLE) / q0) END, 2)
        |         AS volume_effect,
        |       round(CASE WHEN q0 > 0 AND q1 > 0 THEN
        |         (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
        |         * (q1 - q0) END, 2) AS mix_effect
        |FROM c ORDER BY brand""".stripMargin) { (s, d) =>
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val y97 = year(col("l_shipdate")) === 1997
      val y98 = year(col("l_shipdate")) === 1998
      val c = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(when(y97, cents).otherwise(0L)).cast("long").as("r0"),
          sum(when(y97, col("l_quantity").cast("long")).otherwise(0L))
            .cast("long").as("q0"),
          sum(when(y98, cents).otherwise(0L)).cast("long").as("r1"),
          sum(when(y98, col("l_quantity").cast("long")).otherwise(0L))
            .cast("long").as("q1"))
      val ok = col("q0") > 0 && col("q1") > 0
      val dp = (col("r1").cast("double") / col("q1")) -
        (col("r0").cast("double") / col("q0"))
      c.select(col("brand"),
          (col("r1") - col("r0")).cast("long").as("delta_rev_cents"),
          round(when(ok, dp * col("q0")), 2).as("price_effect"),
          round(when(ok, (col("q1") - col("q0"))
            * (col("r0").cast("double") / col("q0"))), 2)
            .as("volume_effect"),
          round(when(ok, dp * (col("q1") - col("q0"))), 2).as("mix_effect"))
        .orderBy(col("brand"))
    },

    // New-vs-returning revenue split — the growth accounting every board
    // deck shows: per order year, revenue and customer counts split by
    // whether the customer's FIRST order fell in that year. One
    // per-customer first-year reduction joins back onto the order scan
    // (broadcastable dimension at any scale: one row per customer);
    // everything stays exact cents.
    Q("q275_new_vs_returning",
      """WITH f AS (
        |  SELECT o_custkey, min(year(o_orderdate)) AS fy
        |  FROM orders GROUP BY 1),
        |o AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |         CASE WHEN year(o_orderdate) = fy THEN 1 ELSE 0 END AS nw,
        |         o_custkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN f USING (o_custkey))
        |SELECT y,
        |       CAST(count(DISTINCT CASE WHEN nw = 1 THEN o_custkey END)
        |            AS BIGINT) AS n_new_cust,
        |       CAST(count(DISTINCT CASE WHEN nw = 0 THEN o_custkey END)
        |            AS BIGINT) AS n_ret_cust,
        |       CAST(sum(CASE WHEN nw = 1 THEN cents ELSE 0 END) AS BIGINT)
        |         AS rev_new_cents,
        |       CAST(sum(CASE WHEN nw = 0 THEN cents ELSE 0 END) AS BIGINT)
        |         AS rev_ret_cents,
        |       round(sum(CASE WHEN nw = 1 THEN cents ELSE 0 END)
        |             / CAST(sum(cents) AS DOUBLE), 6) AS new_share
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val f = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate"))).as("fy"))
      val o = Tables.orders(s, d)
        .join(f, Seq("o_custkey"))
        .select(year(col("o_orderdate")).cast("int").as("y"),
          when(year(col("o_orderdate")) === col("fy"), 1).otherwise(0)
            .as("nw"),
          col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      o.groupBy(col("y"))
        .agg(countDistinct(when(col("nw") === 1, col("o_custkey")))
          .cast("long").as("n_new_cust"),
          countDistinct(when(col("nw") === 0, col("o_custkey")))
            .cast("long").as("n_ret_cust"),
          sum(when(col("nw") === 1, col("cents")).otherwise(0L))
            .cast("long").as("rev_new_cents"),
          sum(when(col("nw") === 0, col("cents")).otherwise(0L))
            .cast("long").as("rev_ret_cents"),
          round(sum(when(col("nw") === 1, col("cents")).otherwise(0L))
            / sum(col("cents")).cast("double"), 6).as("new_share"))
        .orderBy(col("y"))
    },

    // Shannon diversity of each brand's supplier mix, reported as the
    // Hill number of order 1 (exp of entropy — "effective supplier
    // count") next to q265's HHI-derived order-2 Hill number: the two
    // diverge exactly when revenue concentration hides in the mid-tail.
    // Shares are BIGINT-ratio doubles; the ln fold groups operands the
    // same way in both engines, and exp/round close the row.
    Q("q279_brand_diversity",
      """WITH c AS (
        |  SELECT p_brand AS brand, l_suppkey AS sk,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |t AS (SELECT brand, CAST(sum(rev) AS BIGINT) AS tot FROM c
        |      GROUP BY 1)
        |SELECT c.brand, CAST(count(*) AS BIGINT) AS n_suppliers,
        |       round(exp(-sum((CAST(rev AS DOUBLE) / tot)
        |                      * ln(CAST(rev AS DOUBLE) / tot))), 4)
        |         AS hill1_effective,
        |       round(-sum((CAST(rev AS DOUBLE) / tot)
        |                  * ln(CAST(rev AS DOUBLE) / tot)), 6) AS entropy
        |FROM c JOIN t ON c.brand = t.brand
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("l_suppkey").as("sk"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      val t = c.groupBy(col("brand")).agg(sum(col("rev")).cast("long")
        .as("tot"))
      val share = col("rev").cast("double") / col("tot")
      c.join(broadcast(t), "brand")
        .groupBy(col("brand"))
        .agg(count(lit(1)).cast("long").as("n_suppliers"),
          round(exp(-sum(share * log(share))), 4).as("hill1_effective"),
          round(-sum(share * log(share)), 6).as("entropy"))
        .orderBy(col("brand"))
    },

    // Priority-mix drift — total variation distance between consecutive
    // years' order-priority distributions: TVD = ½·Σ|p_y − p_{y−1}|, the
    // "what fraction of orders changed bucket" reading PSI (q134) lacks.
    // Mixes come from exact counts over the bounded (year × priority)
    // spine (missing cells coalesce to 0); consecutive years join on the
    // tiny year frame.
    Q("q280_priority_mix_drift",
      """WITH c AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderpriority AS p,
        |         count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT y, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
        |spine AS (
        |  SELECT yy.y, pp.p FROM (SELECT DISTINCT y FROM c) yy,
        |       (SELECT DISTINCT p FROM c) pp),
        |m AS (
        |  SELECT spine.y, spine.p,
        |         coalesce(c.n, 0) / CAST(t.tot AS DOUBLE) AS sh
        |  FROM spine LEFT JOIN c ON spine.y = c.y AND spine.p = c.p
        |  JOIN t ON spine.y = t.y)
        |SELECT a.y AS year,
        |       round(0.5 * sum(abs(a.sh - b.sh)), 6) AS tvd_vs_prev
        |FROM m a JOIN m b ON b.y = a.y - 1 AND a.p = b.p
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("int").as("y"),
          col("o_orderpriority").as("p"))
        .agg(count(lit(1)).as("n"))
        // ckpt(a): q280 totals, spine + join; lazy 2.1× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val t = c.groupBy(col("y")).agg(sum(col("n")).cast("long").as("tot"))
      val spine = c.select(col("y")).distinct()
        .join(broadcast(c.select(col("p")).distinct()), lit(true))
      val m = spine
        .join(c, Seq("y", "p"), "left")
        .join(broadcast(t), Seq("y"))
        .select(col("y"), col("p"),
          (coalesce(col("n"), lit(0L)) / col("tot").cast("double"))
            .as("sh"))
      m.toDF("y", "p", "sh")
        .join(broadcast(m.toDF("yb", "p", "shb")),
          Seq("p")).filter(col("yb") === col("y") - 1)
        .groupBy(col("y").as("year"))
        .agg(round(lit(0.5) * sum(abs(col("sh") - col("shb"))), 6)
          .as("tvd_vs_prev"))
        .orderBy(col("year"))
    },

    // X-bar control chart (statistical process control): daily order-value
    // means against ±3σ limits, with σ̂ pooled from WITHIN-day variation —
    // the Shewhart discipline that distinguishes "a weird day" from
    // ordinary daily noise. σ̂² = Σ_d ss_d / Σ_d (n_d−1) from exact power
    // sums; a day signals when |mean_d − grand| > 3·σ̂/√n_d. One
    // partial-aggregated scan to the calendar-bounded day frame; the
    // verdict row carries the signal count and the worst standardized
    // deviation.
    Q("q272_control_chart",
      """WITH dd AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s,
        |         sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |               AS HUGEINT)
        |             * CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s2
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |         CAST(sum(s) AS BIGINT) AS ss,
        |         sum(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
        |           AS pooled_ss,
        |         CAST(sum(n - 1) AS BIGINT) AS dfree,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM dd),
        |z AS (
        |  SELECT dd.day,
        |         abs(CAST(dd.s AS DOUBLE) / dd.n
        |             - CAST(t.ss AS DOUBLE) / t.nn)
        |         / (sqrt(t.pooled_ss / t.dfree) / sqrt(CAST(dd.n AS DOUBLE)))
        |           AS az
        |  FROM dd, t)
        |SELECT t.n_days,
        |       CAST((SELECT count(*) FROM z WHERE az > 3) AS BIGINT)
        |         AS n_signals,
        |       round(sqrt(t.pooled_ss / t.dfree), 6) AS sigma_hat,
        |       round(CAST(t.ss AS DOUBLE) / t.nn, 6) AS grand_mean,
        |       round((SELECT max(az) FROM z), 6) AS max_abs_z
        |FROM t""".stripMargin) { (s, d) =>
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val dd = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          // per-day Σcents² ≈ 2e18 at sf1 (~5× BIGINT headroom, gone by
          // sf5) — accumulate in DECIMAL(38,0) / HUGEINT like q178/q246.
          sum(cents.cast("decimal(19,0)") * cents).as("s2"))
      val t = dd.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("s")).cast("long").as("ss"),
        sum(col("s2").cast("double")
          - col("s").cast("double") * col("s") / col("n")).as("pooled_ss"),
        sum(col("n") - 1).cast("long").as("dfree"),
        count(lit(1)).cast("long").as("n_days"))
      val az = abs(col("s").cast("double") / col("n")
        - col("ss").cast("double") / col("nn")) /
        (sqrt(col("pooled_ss") / col("dfree")) / sqrt(col("n").cast("double")))
      val z = dd.join(broadcast(t), lit(true)).select(az.as("az"))
        .agg(sum(when(col("az") > 3, 1L).otherwise(0L)).cast("long")
          .as("n_signals"), max(col("az")).as("max_az"))
      t.join(broadcast(z), lit(true))
        .select(col("n_days"), col("n_signals"),
          round(sqrt(col("pooled_ss") / col("dfree")), 6).as("sigma_hat"),
          round(col("ss").cast("double") / col("nn"), 6).as("grand_mean"),
          round(col("max_az"), 6).as("max_abs_z"))
    },

    // Customer value-segment migration matrix — the lifecycle read that
    // follows q148's RFM snapshot: split the order history at its
    // temporal midpoint, quartile customers by revenue WITHIN each half
    // (exact interpolated quartiles, so the segmentation re-norms to
    // each era), and count every (from-quartile → to-quartile) move
    // among customers active in both halves. The diagonal is retention;
    // below-diagonal mass is the churn-risk cohort a CRM targets. Scale
    // shape: ONE order scan reduces to per-(half, customer) cents; the
    // quartile fences are two 3-value aggregates broadcast back; the
    // halves join on the customer key (co-partitioned), and the matrix
    // is a ≤16-row rollup. The midpoint is integer epoch-seconds
    // arithmetic — identical in both engines. Exact counts; the share
    // divides two BIGINTs, rounded at 6.
    Q("q287_segment_migration",
      """WITH b AS (
        |  SELECT (CAST(floor(epoch(min(o_orderdate))) AS BIGINT)
        |          + CAST(floor(epoch(max(o_orderdate))) AS BIGINT)) // 2
        |           AS mid FROM orders),
        |o AS (
        |  SELECT o_custkey AS ck,
        |         CAST(floor(epoch(o_orderdate)) AS BIGINT) <= mid AS h1,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders, b),
        |m1 AS (SELECT ck, CAST(sum(cents) AS BIGINT) AS m FROM o
        |       WHERE h1 GROUP BY 1),
        |m2 AS (SELECT ck, CAST(sum(cents) AS BIGINT) AS m FROM o
        |       WHERE NOT h1 GROUP BY 1),
        |q1 AS (SELECT quantile_cont(m, 0.25) AS qa,
        |              quantile_cont(m, 0.50) AS qb,
        |              quantile_cont(m, 0.75) AS qc FROM m1),
        |q2 AS (SELECT quantile_cont(m, 0.25) AS qa,
        |              quantile_cont(m, 0.50) AS qb,
        |              quantile_cont(m, 0.75) AS qc FROM m2),
        |s1 AS (SELECT ck, 1 + CAST(m > qa AS INT) + CAST(m > qb AS INT)
        |              + CAST(m > qc AS INT) AS seg FROM m1, q1),
        |s2 AS (SELECT ck, 1 + CAST(m > qa AS INT) + CAST(m > qb AS INT)
        |              + CAST(m > qc AS INT) AS seg FROM m2, q2),
        |x AS (
        |  SELECT s1.seg AS seg_from, s2.seg AS seg_to,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM s1 JOIN s2 USING (ck) GROUP BY 1, 2)
        |SELECT CAST(seg_from AS INT) AS seg_from,
        |       CAST(seg_to AS INT) AS seg_to, n AS n_customers,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER
        |             (PARTITION BY seg_from), 6) AS row_share
        |FROM x ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey").as("ck"),
          col("o_orderdate").cast("timestamp").cast("long").as("sec"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .eagerCkpt // ckpt(a): the midpoint head() job and both halves read it
      val mid = o.agg(expr("(min(sec) + max(sec)) div 2").as("mid"))
        .head().getLong(0)
      def half(cond: org.apache.spark.sql.Column)
          : org.apache.spark.sql.DataFrame = {
        val m = o.filter(cond).groupBy(col("ck"))
          .agg(sum(col("cents")).cast("long").as("m"))
        val q = m.agg(expr(
          "percentile(m, array(0.25, 0.5, 0.75))").as("qs"))
        m.join(broadcast(q), lit(true))
          .select(col("ck"), (lit(1)
            + (col("m") > element_at(col("qs"), 1)).cast("int")
            + (col("m") > element_at(col("qs"), 2)).cast("int")
            + (col("m") > element_at(col("qs"), 3)).cast("int")).as("seg"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("seg_from"))
      half(col("sec") <= mid).withColumnRenamed("seg", "seg_from")
        .join(half(col("sec") > mid).withColumnRenamed("seg", "seg_to"),
          "ck")
        .groupBy(col("seg_from"), col("seg_to"))
        .agg(count(lit(1)).cast("long").as("n_customers"))
        .withColumn("row_share", round(col("n_customers").cast("double")
          / sum(col("n_customers")).over(w), 6))
        .orderBy(col("seg_from"), col("seg_to"))
    }
  )
}
