package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Distribution-comparison and hypothesis-test statistics — the analyses a
  * retail data team runs AFTER the descriptive queries (q11-q14, q163):
  * nonparametric two-sample tests (Mann-Whitney, Kolmogorov-Smirnov),
  * digit-law fraud screening (Benford), categorical-mix entropy, CUSUM
  * changepoint scans, rank correlation (Kendall tau-b), and grouped OLS by
  * sufficient statistics. Reference scope: the reference's analysis notebook
  * stops at Pearson correlation and grouped means
  * (`Scripts/eda.py:61`, `Scripts/model.py:47`); this family is the
  * statistical-rigor extension a forecasting/fraud team asks for next.
  *
  * Scale design shared by the family:
  *  - Every test statistic is computed from per-distinct-value or per-cell
  *    COUNTS, never from raw rows: the corpus partial-aggregates map-side,
  *    and only the (value → count) frame — bounded by the value domain, not
  *    the row count — ever shuffles.
  *  - Rank-based statistics (U, KS-D) need a global cumulative count over
  *    ordered distinct values. The naive `sum() OVER (ORDER BY v)` plans an
  *    Exchange SinglePartition — one task sorts everything. Instead the
  *    q130 block-offset topology of [[Ranks.globalCumSums]]: per-block
  *    prefix sums in parallel, and a ≤32-row block-offset table (the only
  *    SinglePartition in the plan) broadcast back. Exact for any
  *    range-disjoint boundary placement.
  *  - All statistic numerators stay in BIGINT (counts, cents, rank sums);
  *    doubles appear only in the final rounded ratio, so the DuckDB oracle
  *    hash-matches bit-for-bit on the integer columns and at round-6 on the
  *    ratios.
  */
object Stats {

  /** Per-distinct-cents-value counts of the two compared event samples:
    * A = purchase values, B = view values, in exact cents. */
  private def twoSampleCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 100, 0).cast("long").as("v"),
        (col("event_type") === "purchase").as("is_a"))
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("b"))

  /** Adds exact cumulative sample counts STRICTLY BELOW each distinct value
    * (`ca`, `cb`) without a global single-task sort: one two-measure
    * [[Ranks.globalCumSums]] call, minus each row's own counts. Input: one
    * row per distinct `v` with per-sample counts `a`, `b`. */
  private def withCumBelow(counts: DataFrame): DataFrame =
    Ranks.globalCumSums(counts, 32, Seq("ca" -> col("a"), "cb" -> col("b")),
      col("v"))
      .withColumn("ca", col("ca") - col("a"))
      .withColumn("cb", col("cb") - col("b"))

  /** Shared oracle prelude: per-distinct-cents counts of the two samples
    * with cumulative-below counts (DuckDB recomputes the distributed prefix
    * sums with a plain ordered window — v is unique per row, so the default
    * RANGE frame's peer inclusion is moot). */
  private val cdfPrelude =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |c AS (
      |  SELECT v,
      |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a,
      |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
      |  FROM e GROUP BY 1),
      |w AS (
      |  SELECT v, a, b,
      |         coalesce(sum(a) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca,
      |         coalesce(sum(b) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM c)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Mann-Whitney U rank-sum test: are purchase values stochastically
    // larger than view values? Complements q163's Welch t (means) with the
    // distribution-free alternative an analyst reaches for when revenue is
    // skewed. With per-value counts (a_v, b_v) and the combined count
    // strictly below c_v, the tied-average-rank sum doubles to an integer:
    //   2·R_A = Σ_v a_v · (2·c_v + a_v + b_v + 1),   2·U_A = 2·R_A − n_A(n_A+1).
    // The tie-corrected normal approximation
    //   z = (U_A − n_A·n_B/2) / sqrt(n_A·n_B/12 · ((n+1) − T/(n(n−1)))),
    //   T = Σ_v t_v³ − t_v,  t_v = a_v + b_v,
    // is assembled from those BIGINTs only at the final rounded division.
    // Scale shape: see the object doc — the only SinglePartition carries
    // ≤32 block-offset rows.
    Q("q166_mann_whitney",
      cdfPrelude +
      """,
        |t AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |         CAST(sum(b) AS BIGINT) AS n_b,
        |         CAST(sum(a * (2 * (ca + cb) + a + b + 1)) AS BIGINT) AS r2_a,
        |         CAST(sum((a + b) * (a + b - 1) * (a + b + 1)) AS BIGINT)
        |           AS tie_term
        |  FROM w)
        |SELECT n_a, n_b,
        |       CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
        |       tie_term,
        |       round((CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2
        |                - CAST(n_a AS DOUBLE) * n_b / 2)
        |             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12
        |                    * ((n_a + n_b + 1)
        |                       - CAST(tie_term AS DOUBLE)
        |                         / (CAST(n_a + n_b AS DOUBLE)
        |                            * (n_a + n_b - 1)))), 6) AS z_stat
        |FROM t""".stripMargin) { (s, d) =>
      val t = col("a") + col("b")
      withCumBelow(twoSampleCounts(s, d))
        .agg(
          sum(col("a")).cast("long").as("n_a"),
          sum(col("b")).cast("long").as("n_b"),
          sum(col("a") * (lit(2) * (col("ca") + col("cb")) + t + 1))
            .cast("long").as("r2_a"),
          sum(t * (t - 1) * (t + 1)).cast("long").as("tie_term"))
        .withColumn("u2_a",
          (col("r2_a") - col("n_a") * (col("n_a") + 1)).cast("long"))
        .withColumn("nn", col("n_a") + col("n_b"))
        .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_term"),
          round((col("u2_a").cast("double") / 2
              - col("n_a").cast("double") * col("n_b") / 2)
            / sqrt(col("n_a").cast("double") * col("n_b") / 12
              * ((col("nn") + 1).cast("double")
                - col("tie_term").cast("double")
                  / (col("nn").cast("double") * (col("nn") - 1)))), 6)
            .as("z_stat"))
    },

    // Two-sample Kolmogorov-Smirnov statistic on the same samples:
    // D = max_v |F_A(v) − F_B(v)|. Cross-multiplying by n_A·n_B keeps the
    // numerator exact: D_num = max_v |(ca+a)·n_B − (cb+b)·n_A| — a BIGINT
    // the oracle reproduces bit-for-bit; only the final D ratio is a
    // rounded double. Same block-offset CDF topology as q166.
    Q("q167_ks_test",
      cdfPrelude +
      """,
        |n AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |             CAST(sum(b) AS BIGINT) AS n_b FROM c)
        |SELECT n_a, n_b,
        |       CAST(max(abs((ca + a) * n_b - (cb + b) * n_a)) AS BIGINT)
        |         AS d_num,
        |       round(CAST(max(abs((ca + a) * n_b - (cb + b) * n_a)) AS DOUBLE)
        |             / (CAST(n_a AS DOUBLE) * n_b), 6) AS ks_d
        |FROM w, n GROUP BY n_a, n_b""".stripMargin) { (s, d) =>
      val cum = withCumBelow(twoSampleCounts(s, d))
      val tot = cum.agg(sum(col("a")).cast("long").as("n_a"),
        sum(col("b")).cast("long").as("n_b"))
      cum.crossJoin(broadcast(tot))
        .select(col("n_a"), col("n_b"),
          abs((col("ca") + col("a")) * col("n_b")
            - (col("cb") + col("b")) * col("n_a")).as("dn"))
        .groupBy(col("n_a"), col("n_b"))
        .agg(max(col("dn")).cast("long").as("d_num"))
        .select(col("n_a"), col("n_b"), col("d_num"),
          round(col("d_num").cast("double")
            / (col("n_a").cast("double") * col("n_b")), 6).as("ks_d"))
    },

    // Benford first-digit screen over order totals — the classic fraud /
    // data-quality test on financial amounts. The digit is taken from the
    // exact cents integer's decimal rendering (same leading significant
    // digit as the price; no float log in the digit extraction). One 9-row
    // aggregate; expected counts n·log10(1+1/d) and chi-square terms are
    // recomputed by the oracle from the same BIGINTs.
    Q("q168_benford",
      """WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |dg AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        |         count(*) AS n_obs
        |  FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM dg)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |       round(n_total * log10(1 + 1.0 / digit), 6) AS n_expected,
        |       round(pow(n_obs - n_total * log10(1 + 1.0 / digit), 2)
        |             / (n_total * log10(1 + 1.0 / digit)), 6) AS chi2_term
        |FROM dg, t ORDER BY digit""".stripMargin) { (s, d) =>
      val digits = Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum(col("n_obs")).cast("long").as("n_total"))
      val expected = col("n_total") * log10(lit(1) + lit(1.0) / col("digit"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs").cast("long").as("n_obs"),
          round(expected, 6).as("n_expected"),
          round(pow(col("n_obs") - expected, 2) / expected, 6)
            .as("chi2_term"))
        .orderBy(col("digit"))
    },

    // Shannon entropy (bits) of the event-type mix per calendar day —
    // the mix-shift profile a monitoring team tracks next to q134's PSI
    // (the event corpus spans one month, so day is the natural grain).
    // Two-level aggregate: per-(day, type) counts partial-aggregate
    // map-side; entropy = log2(n) − Σ c·log2(c) / n is assembled per day
    // from those counts. Both engines evaluate the SAME formula (not
    // DuckDB's built-in entropy()) so the float path matches to round-6.
    Q("q170_entropy_profile",
      """WITH cell AS (
        |  SELECT CAST(day(ts) AS INT) AS dy, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT dy, CAST(sum(c) AS BIGINT) AS n_events,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       round(log2(CAST(sum(c) AS DOUBLE))
        |             - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
        |               / CAST(sum(c) AS DOUBLE), 6) AS entropy_bits
        |FROM cell GROUP BY dy ORDER BY dy""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(dayofmonth(col("ts")).cast("int").as("dy"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dy"))
        .agg(sum(col("c")).cast("long").as("n_events"),
          count(lit(1)).cast("long").as("n_types"),
          round(log2(sum(col("c")).cast("double"))
            - sum(col("c").cast("double") * log2(col("c").cast("double")))
              / sum(col("c")).cast("double"), 6).as("entropy_bits"))
        .orderBy(col("dy"))
    },

    // CUSUM changepoint scan over each nation's monthly revenue: the
    // level-shift detector a demand planner runs before trusting q149's
    // seasonal profile. Statistic: max_t |n·S_t − t·T| where S_t is the
    // cumulative revenue through month t and T the nation total —
    // the mean-centered CUSUM scaled by n to stay in exact BIGINT cents
    // (n ≤ a few hundred months, T ≤ ~1e15 cents at 100 TB: no overflow).
    // Scale shape: the fact table reduces to one row per (nation, month)
    // in a partial-aggregated shuffle; windows partition by nation, so no
    // SinglePartition anywhere; the argmax (earliest month on ties) rides
    // the same struct-min fold as q131's hot key.
    Q("q171_cusum_changepoint",
      """WITH m AS (
        |  SELECT c_nationkey AS nk, CAST(year(o_orderdate) AS INT) AS y,
        |         CAST(month(o_orderdate) AS INT) AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT nk, y * 100 + mo AS ym,
        |         sum(rev) OVER (PARTITION BY nk ORDER BY y, mo) AS cum,
        |         row_number() OVER (PARTITION BY nk ORDER BY y, mo) AS t,
        |         sum(rev) OVER (PARTITION BY nk) AS total,
        |         count(*) OVER (PARTITION BY nk) AS nm
        |  FROM m),
        |dv AS (
        |  SELECT nk, nm, total, ym, abs(nm * cum - t * total) AS dev FROM w),
        |mx AS (
        |  SELECT nk, CAST(max(nm) AS BIGINT) AS n_months,
        |         CAST(max(total) AS BIGINT) AS total_cents,
        |         CAST(max(dev) AS BIGINT) AS max_dev
        |  FROM dv GROUP BY 1),
        |cp AS (
        |  SELECT dv.nk, CAST(min(ym) AS INT) AS cp_ym
        |  FROM dv JOIN mx ON dv.nk = mx.nk AND dv.dev = mx.max_dev
        |  GROUP BY 1)
        |SELECT mx.nk, n_months, total_cents, max_dev,
        |       CAST(cp_ym // 100 AS INT) AS cp_y,
        |       CAST(cp_ym % 100 AS INT) AS cp_mo
        |FROM mx JOIN cp ON mx.nk = cp.nk ORDER BY mx.nk""".stripMargin) {
      (s, d) =>
      val m = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"),
          year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      val wOrd = Window.partitionBy(col("nk")).orderBy(col("y"), col("mo"))
      val wAll = Window.partitionBy(col("nk"))
      val dv = m
        .withColumn("ym", col("y") * 100 + col("mo"))
        .withColumn("cum", sum(col("rev")).over(wOrd))
        .withColumn("t", row_number().over(wOrd))
        .withColumn("total", sum(col("rev")).over(wAll))
        .withColumn("nm", count(lit(1)).over(wAll))
        .select(col("nk"), col("nm"), col("total"), col("ym"),
          abs(col("nm") * col("cum") - col("t") * col("total")).as("dev"))
      dv.groupBy(col("nk"))
        .agg(max(col("nm")).cast("long").as("n_months"),
          max(col("total")).cast("long").as("total_cents"),
          max(col("dev")).cast("long").as("max_dev"),
          // argmax month, earliest on ties — single-aggregate struct-min
          min(struct((-col("dev")).as("nd"), col("ym").as("ym"))).as("best"))
        .select(col("nk"), col("n_months"), col("total_cents"),
          col("max_dev"),
          expr("CAST(best.ym div 100 AS INT)").as("cp_y"),
          expr("CAST(best.ym % 100 AS INT)").as("cp_mo"))
        .orderBy(col("nk"))
    },

    // Kendall tau-b rank correlation between quantity and discount per
    // return flag — the tie-robust companion to Pearson (q14) and the
    // discount-elasticity read (q151). Key scale idea: both variables
    // have BOUNDED domains (quantity 1..50, discount 0..10 cents-pct), so
    // the n² pair sum collapses onto the JOINT HISTOGRAM: concordant /
    // discordant / tied pair counts are cell-pair sums over ≤550 cells per
    // group — bounded by the domain, independent of row count. (For
    // continuous columns, bucket first; the cells ARE the statistic.)
    // All four pair counts are exact BIGINTs; tau_b is the only double.
    Q("q172_kendall_tau",
      """WITH cells AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
        |         CAST(round(l_discount * 100, 0) AS BIGINT) AS dc,
        |         count(*) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT a.g,
        |    CAST(coalesce(sum(CASE WHEN a.q < b.q AND a.dc < b.dc
        |                            THEN a.c * b.c END), 0) AS BIGINT) AS conc,
        |    CAST(coalesce(sum(CASE WHEN a.q < b.q AND a.dc > b.dc
        |                            THEN a.c * b.c END), 0) AS BIGINT) AS disc,
        |    CAST(coalesce(sum(CASE WHEN a.q = b.q AND a.dc < b.dc
        |                            THEN a.c * b.c END), 0) AS BIGINT) AS tie_q,
        |    CAST(coalesce(sum(CASE WHEN a.q < b.q AND a.dc = b.dc
        |                            THEN a.c * b.c END), 0) AS BIGINT) AS tie_d
        |  FROM cells a JOIN cells b ON a.g = b.g GROUP BY 1),
        |n AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_rows FROM cells GROUP BY 1)
        |SELECT p.g, n_rows, conc, disc, tie_q, tie_d,
        |       round(CAST(conc - disc AS DOUBLE)
        |             / sqrt(CAST(conc + disc + tie_q AS DOUBLE)
        |                    * CAST(conc + disc + tie_d AS DOUBLE)), 6)
        |         AS tau_b
        |FROM p JOIN n ON p.g = n.g ORDER BY 1""".stripMargin) { (s, d) =>
      val cells = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("q"),
          round(col("l_discount") * 100, 0).cast("long").as("dc"))
        .agg(count(lit(1)).as("c"))
      val r = cells.select(col("g"), col("q").as("q2"),
        col("dc").as("dc2"), col("c").as("c2"))
      def pairSum(cond: Column) =
        coalesce(sum(when(cond, col("c") * col("c2"))), lit(0L)).cast("long")
      val agg = cells.join(broadcast(r), Seq("g"))
        .groupBy(col("g"))
        .agg(
          pairSum(col("q") < col("q2") && col("dc") < col("dc2")).as("conc"),
          pairSum(col("q") < col("q2") && col("dc") > col("dc2")).as("disc"),
          pairSum(col("q") === col("q2") && col("dc") < col("dc2"))
            .as("tie_q"),
          pairSum(col("q") < col("q2") && col("dc") === col("dc2"))
            .as("tie_d"))
      val n = cells.groupBy(col("g")).agg(sum(col("c")).cast("long")
        .as("n_rows"))
      agg.join(broadcast(n), "g")
        .select(col("g"), col("n_rows"), col("conc"), col("disc"),
          col("tie_q"), col("tie_d"),
          round((col("conc") - col("disc")).cast("double")
            / sqrt((col("conc") + col("disc") + col("tie_q")).cast("double")
              * (col("conc") + col("disc") + col("tie_d")).cast("double")),
            6).as("tau_b"))
        .orderBy(col("g"))
    },

    // Grouped OLS of quantity on discount percentage-points by brand —
    // regression the 100-TB way: ONE partial-aggregated scan collects the
    // six sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy² — all exact
    // BIGINTs here because both variables are integers), and slope /
    // intercept / r² are pure arithmetic on them:
    //   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    //   intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²)
    //   r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    // No second pass, no residual materialization. The covariance
    // numerator is emitted as a BIGINT for bit-exact comparison; the
    // ratios are rounded doubles. Degenerate groups (zero x-variance)
    // yield NULLs in both engines via the explicit guard.
    Q("q173_grouped_ols",
      """WITH st AS (
        |  SELECT p_brand,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT))
        |              AS BIGINT) AS sx,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
        |         CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)
        |                  * CAST(round(l_discount * 100, 0) AS BIGINT))
        |              AS BIGINT) AS sxx,
        |         CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy,
        |         CAST(sum(CAST(l_quantity AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |dd AS (
        |  SELECT p_brand, n,
        |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cn,
        |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy,
        |         CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS ic
        |  FROM st)
        |SELECT p_brand, n, CAST(cn AS BIGINT) AS cov_num,
        |       CASE WHEN dx = 0 THEN NULL
        |            ELSE round(CAST(cn AS DOUBLE) / CAST(dx AS DOUBLE), 6)
        |       END AS slope,
        |       CASE WHEN dx = 0 THEN NULL
        |            ELSE round(CAST(ic AS DOUBLE) / CAST(dx AS DOUBLE), 6)
        |       END AS intercept,
        |       CASE WHEN dx = 0 OR dy = 0 THEN NULL
        |            ELSE round(CAST(cn AS DOUBLE) * CAST(cn AS DOUBLE)
        |                       / (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)),
        |                       6)
        |       END AS r2
        |FROM dd ORDER BY p_brand""".stripMargin) { (s, d) =>
      val x = round(col("l_discount") * 100, 0).cast("long")
      val y = col("l_quantity").cast("long")
      val st = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(x).cast("long").as("sx"),
          sum(y).cast("long").as("sy"),
          sum(x * x).cast("long").as("sxx"),
          sum(x * y).cast("long").as("sxy"),
          sum(y * y).cast("long").as("syy"))
      // the six sufficient sums are linear in group size (safe BIGINTs to
      // ~sf1e9), but the n·Σxy-style PRODUCTS grow quadratically (~1.4e14
      // per brand at sf1 → BIGINT gone by ~sf250) — form them in
      // DECIMAL(38,0) / HUGEINT and only then drop to double
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val denX = dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")
      val denY = dec(col("n")) * col("syy") - dec(col("sy")) * col("sy")
      val covN = dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy")
      st.select(col("p_brand"), col("n"),
          covN.cast("long").as("cov_num"),
          when(denX === 0, lit(null))
            .otherwise(round(covN.cast("double") / denX.cast("double"), 6))
            .as("slope"),
          when(denX === 0, lit(null))
            .otherwise(round((dec(col("sy")) * col("sxx")
              - dec(col("sx")) * col("sxy")).cast("double")
              / denX.cast("double"), 6)).as("intercept"),
          when(denX === 0 || denY === 0, lit(null))
            .otherwise(round(covN.cast("double") * covN.cast("double")
              / (denX.cast("double") * denY.cast("double")), 6)).as("r2"))
        .orderBy(col("p_brand"))
    },

    // Theil-Sen robust trend of monthly revenue: the median of all
    // pairwise slopes — the estimator that shrugs off the outlier months
    // an OLS trend (q173's machinery) chases. Scale shape: the corpus
    // reduces to ONE row per month in a partial-aggregated scan; the
    // O(months²) pair enumeration runs on that tiny frame with one side
    // broadcast (a few thousand pairs regardless of corpus size — the
    // reduction IS the scalability). Slopes are doubles from identical
    // integer-cent differences, so both engines sort the same values;
    // quartiles interpolate identically (q71 pins percentile ≡
    // quantile_cont).
    Q("q175_theil_sen",
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS INT) * 12
        |           + CAST(month(o_orderdate) AS INT) AS idx,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CAST(b.rev - a.rev AS DOUBLE) / (b.idx - a.idx) AS slope
        |  FROM m a JOIN m b ON b.idx > a.idx),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM m)
        |SELECT n_months, CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(quantile_cont(slope, 0.25), 6) AS slope_q1,
        |       round(quantile_cont(slope, 0.5), 6) AS ts_slope,
        |       round(quantile_cont(slope, 0.75), 6) AS slope_q3
        |FROM p, nm GROUP BY n_months""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy((year(col("o_orderdate")).cast("int") * 12
          + month(col("o_orderdate")).cast("int")).as("idx"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("rev"))
      val nm = m.agg(count(lit(1)).cast("long").as("n_months"))
      m.select(col("idx").as("i"), col("rev").as("ri"))
        .join(broadcast(m.select(col("idx").as("j"), col("rev").as("rj"))),
          col("j") > col("i"))
        .select(((col("rj") - col("ri")).cast("double")
          / (col("j") - col("i"))).as("slope"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          round(expr("percentile(slope, 0.25)"), 6).as("slope_q1"),
          round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"),
          round(expr("percentile(slope, 0.75)"), 6).as("slope_q3"))
        .crossJoin(broadcast(nm))
        .select(col("n_months"), col("n_pairs"), col("slope_q1"),
          col("ts_slope"), col("slope_q3"))
    },

    // Poisson bootstrap of the mean purchase value — the 100-TB way to
    // put a standard error on a statistic: NO resampling pass exists; each
    // row contributes to each of the 32 replicates with a Poisson(1)
    // weight derived from md5(replicate ‖ event_id), so the whole
    // bootstrap is ONE map-side pass (the 32× explode partial-aggregates
    // to 32 rows per partition before the shuffle). The weight is the
    // count of fixed 16-bit CDF thresholds (floor(cdf(k)·2^16) of
    // Poisson(1), embedded as identical hex literals in both engines)
    // lying at or below the row's hash prefix — deterministic under
    // retries, re-runs, and repartitioning, unlike an RNG bootstrap.
    // Replicate sums stay in exact BIGINT cents; only the per-replicate
    // mean is a rounded double.
    Q("q176_poisson_bootstrap",
      """WITH x AS (
        |  SELECT b, CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         substr(md5(CAST(b AS VARCHAR) || ':'
        |                    || CAST(event_id AS VARCHAR)), 1, 4) AS h
        |  FROM events, (SELECT unnest(range(32)) AS b)
        |  WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT b, cents,
        |         CASE WHEN h < '5e2d' THEN 0 WHEN h < 'bc5a' THEN 1
        |              WHEN h < 'eb71' THEN 2 WHEN h < 'fb23' THEN 3
        |              WHEN h < 'ff10' THEN 4 WHEN h < 'ffd9' THEN 5
        |              ELSE 6 END AS wt
        |  FROM x)
        |SELECT CAST(b AS INT) AS b, CAST(sum(wt) AS BIGINT) AS n_eff,
        |       CAST(sum(wt * cents) AS BIGINT) AS sum_cents,
        |       round(CAST(sum(wt * cents) AS DOUBLE)
        |             / CAST(sum(wt) AS DOUBLE), 6) AS mean_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val h = substring(md5(concat(col("b").cast("string"), lit(":"),
        col("event_id").cast("string")).cast("binary")), 1, 4)
      val wt = when(h < "5e2d", 0).when(h < "bc5a", 1).when(h < "eb71", 2)
        .when(h < "fb23", 3).when(h < "ff10", 4).when(h < "ffd9", 5)
        .otherwise(6)
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(round(col("value") * 100, 0).cast("long").as("cents"),
          col("event_id"))
        .withColumn("b", explode(sequence(lit(0), lit(31))))
        .select(col("b").cast("int").as("b"), col("cents"),
          wt.cast("long").as("wt"))
        .groupBy(col("b"))
        .agg(sum(col("wt")).cast("long").as("n_eff"),
          sum(col("wt") * col("cents")).cast("long").as("sum_cents"),
          round(sum(col("wt") * col("cents")).cast("double")
            / sum(col("wt")).cast("double"), 6).as("mean_cents"))
        .orderBy(col("b"))
    },

    // EXACT isotonic regression of quantity on discount — not MLlib's
    // PAVA (whose pooled output no SQL oracle could replay) but the
    // classical minimax characterization: the isotonic fit at x_i is
    //   ŷ_i = max_{j ≤ i} min_{k ≥ i} avg(y over [x_j, x_k]),
    // which is pure interval algebra once the corpus reduces to one
    // (x, n, Σy) row per distinct discount. Scale shape: the reduction is
    // one partial-aggregated scan; the O(|domain|²) interval enumeration
    // and the nested min/max run on the ≤11-row frame with every join
    // broadcast — bounded by the value domain, independent of row count
    // (the q172 joint-histogram economics). Interval averages are the
    // same BIGINT-ratio doubles in both engines, so min/max pick
    // identical values and the fit hashes exactly at round-6.
    Q("q185_isotonic",
      """WITH cells AS (
        |  SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS x,
        |         count(*) AS nn,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT j.x AS j, k.x AS k,
        |         CAST(sum(c.sy) AS DOUBLE) / sum(c.nn) AS a
        |  FROM cells j JOIN cells k ON j.x <= k.x
        |  JOIN cells c ON c.x BETWEEN j.x AND k.x
        |  GROUP BY 1, 2),
        |mi AS (
        |  SELECT i.x AS i, iv.j, min(a) AS m
        |  FROM cells i JOIN iv ON iv.j <= i.x AND iv.k >= i.x
        |  GROUP BY 1, 2),
        |pr AS (SELECT i, max(m) AS pred FROM mi GROUP BY 1)
        |SELECT CAST(c.x AS INT) AS x_cents, CAST(c.nn AS BIGINT) AS n,
        |       round(CAST(c.sy AS DOUBLE) / c.nn, 6) AS avg_y,
        |       round(pred, 6) AS iso_pred
        |FROM cells c JOIN pr ON c.x = pr.i ORDER BY 1""".stripMargin) {
      (s, d) =>
      val cells = Tables.lineitem(s, d)
        .groupBy(round(col("l_discount") * 100, 0).cast("long").as("x"))
        .agg(count(lit(1)).as("nn"),
          sum(col("l_quantity").cast("long")).cast("long").as("sy"))
        // ckpt(a): q185 every interval stage; lazy 1.4× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val xs = cells.select(col("x"))
      val iv = xs.toDF("j")
        .join(broadcast(xs.toDF("k")), col("j") <= col("k"))
        .join(broadcast(cells), col("x") >= col("j") && col("x") <= col("k"))
        .groupBy(col("j"), col("k"))
        .agg((sum(col("sy")).cast("double") / sum(col("nn"))).as("a"))
      val mi = xs.toDF("i")
        .join(broadcast(iv), col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("i"), col("j"))
        .agg(min(col("a")).as("m"))
      val pr = mi.groupBy(col("i")).agg(max(col("m")).as("pred"))
      cells.join(broadcast(pr), col("x") === col("i"))
        .select(col("x").cast("int").as("x_cents"),
          col("nn").cast("long").as("n"),
          round(col("sy").cast("double") / col("nn"), 6).as("avg_y"),
          round(col("pred"), 6).as("iso_pred"))
        .orderBy(col("x_cents"))
    },

    // Difference-in-differences uplift — the causal read on a promotion:
    // did discounted lines' quantity move MORE across the 1998 boundary
    // than undiscounted lines' did (netting out the common trend)?
    //   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre),
    // treatment = discount ≥ 5%. ONE partial-aggregated scan collects the
    // four (n, Σy) cells as conditional sums; every mean and the estimate
    // are assembled from those BIGINTs at the final rounded step. The
    // four exact cells are emitted alongside, so the oracle pins the
    // inputs bit-for-bit, not just the rounded estimate.
    Q("q189_did_uplift",
      """WITH f AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         l_discount >= 0.05 AS t,
        |         l_shipdate >= TIMESTAMP '1998-01-01' AS post
        |  FROM lineitem),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN t AND post THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_tp,
        |    CAST(sum(CASE WHEN t AND post THEN q ELSE 0 END) AS BIGINT)
        |      AS s_tp,
        |    CAST(sum(CASE WHEN t AND NOT post THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t0,
        |    CAST(sum(CASE WHEN t AND NOT post THEN q ELSE 0 END) AS BIGINT)
        |      AS s_t0,
        |    CAST(sum(CASE WHEN NOT t AND post THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cp,
        |    CAST(sum(CASE WHEN NOT t AND post THEN q ELSE 0 END) AS BIGINT)
        |      AS s_cp,
        |    CAST(sum(CASE WHEN NOT t AND NOT post THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_c0,
        |    CAST(sum(CASE WHEN NOT t AND NOT post THEN q ELSE 0 END)
        |         AS BIGINT) AS s_c0
        |  FROM f)
        |SELECT n_tp, s_tp, n_t0, s_t0, n_cp, s_cp, n_c0, s_c0,
        |       round((CAST(s_tp AS DOUBLE) / n_tp
        |              - CAST(s_t0 AS DOUBLE) / n_t0)
        |             - (CAST(s_cp AS DOUBLE) / n_cp
        |                - CAST(s_c0 AS DOUBLE) / n_c0), 6) AS did_qty
        |FROM c""".stripMargin) { (s, d) =>
      val t = col("l_discount") >= 0.05
      val post = col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz")
      val q = col("l_quantity").cast("long")
      def cell(cond: Column, v: Column) =
        sum(when(cond, v).otherwise(0L)).cast("long")
      Tables.lineitem(s, d)
        .agg(
          cell(t && post, lit(1L)).as("n_tp"), cell(t && post, q).as("s_tp"),
          cell(t && !post, lit(1L)).as("n_t0"), cell(t && !post, q).as("s_t0"),
          cell(!t && post, lit(1L)).as("n_cp"), cell(!t && post, q).as("s_cp"),
          cell(!t && !post, lit(1L)).as("n_c0"), cell(!t && !post, q).as("s_c0"))
        .withColumn("did_qty", round(
          (col("s_tp").cast("double") / col("n_tp")
            - col("s_t0").cast("double") / col("n_t0"))
          - (col("s_cp").cast("double") / col("n_cp")
            - col("s_c0").cast("double") / col("n_c0")), 6))
    },

    // Distribution-shape moments (population skewness / excess kurtosis)
    // of purchase values per event type — NOT the engines' built-ins:
    // Spark's skewness/kurtosis and DuckDB's apply DIFFERENT bias
    // corrections, so both sides here expand the same central-moment
    // formulas from raw power sums (Σx..Σx⁴ over cents) collected in ONE
    // partial-aggregated pass — the q173 sufficient-statistics pattern
    // one moment order higher. Variance rounds at 2 (its ~1e8-cent²
    // magnitude sits near double's ulp at 6 decimals); the scale-free
    // shape ratios round at 6.
    Q("q214_moment_stats",
      """WITH x AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(c AS DOUBLE)) AS s1,
        |         sum(CAST(c AS DOUBLE) * c) AS s2,
        |         sum(CAST(c AS DOUBLE) * c * c) AS s3,
        |         sum(CAST(c AS DOUBLE) * c * c * c) AS s4
        |  FROM x GROUP BY 1),
        |k AS (
        |  SELECT event_type, n, s1 / n AS mu,
        |         s2 / n - (s1 / n) * (s1 / n) AS m2,
        |         s3 / n - 3 * (s1 / n) * (s2 / n)
        |           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |         s4 / n - 4 * (s1 / n) * (s3 / n)
        |           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
        |           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |       round(mu, 6) AS mean_cents,
        |       round(m2, 2) AS var_pop,
        |       round(m3 / pow(m2, 1.5), 6) AS skew_pop,
        |       round(m4 / (m2 * m2) - 3, 6) AS kurt_excess
        |FROM k ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = round(col("value") * 100, 0).cast("long")
      val m = Tables.events(s, d)
        .select(col("event_type"), c.as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("double")).as("s1"),
          sum(col("c").cast("double") * col("c")).as("s2"),
          sum(col("c").cast("double") * col("c") * col("c")).as("s3"),
          sum(col("c").cast("double") * col("c") * col("c") * col("c"))
            .as("s4"))
      val mu = col("s1") / col("n")
      val m2 = col("s2") / col("n") - mu * mu
      val m3 = col("s3") / col("n") - lit(3) * mu * (col("s2") / col("n")) +
        lit(2) * mu * mu * mu
      val m4 = col("s4") / col("n") - lit(4) * mu * (col("s3") / col("n")) +
        lit(6) * mu * mu * (col("s2") / col("n")) - lit(3) * mu * mu * mu * mu
      m.select(col("event_type"), col("n").cast("long").as("n_events"),
          round(mu, 6).as("mean_cents"),
          round(m2, 2).as("var_pop"),
          round(m3 / pow(m2, 1.5), 6).as("skew_pop"),
          round(m4 / (m2 * m2) - 3, 6).as("kurt_excess"))
        .orderBy(col("event_type"))
    },

    // Kaplan-Meier survival curve (product-limit estimator, Kaplan & Meier
    // 1958) over customer order lifetimes — the censoring-aware churn
    // analysis that replaces naive "average customer lifetime" (which
    // treats still-active customers as churned at their last order and
    // biases lifetime DOWN). Subject = customer; duration = days between
    // first and last order; a customer whose last order falls within 180
    // days of the corpus end is CENSORED (still at risk), otherwise their
    // churn event is observed. At each distinct duration t with d_t events:
    //   n_t = N − Σ_{u<t}(d_u + c_u),   S(t) = Π_{u≤t, d_u>0}(1 − d_u/n_u).
    // Scale shape: the order corpus reduces to one row per customer in a
    // partial-aggregated scan, then to one row per DISTINCT DURATION — a
    // frame bounded by the corpus' calendar span in days (a domain
    // constant, ~2.4k here, independent of row count). Risk sets and the
    // product-limit both come from broadcast inequality self-joins on that
    // bounded frame (the q162/q185 bounded-domain economics) — no
    // SinglePartition window anywhere; the only float work is the final
    // Σln(1−d/n) fold, all-negative terms (no cancellation), rounded at 6.
    Q("q215_kaplan_meier",
      """WITH mx AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
        |cust AS (
        |  SELECT o_custkey,
        |         date_diff('day', min(CAST(o_orderdate AS DATE)),
        |                   max(CAST(o_orderdate AS DATE))) AS t,
        |         CASE WHEN max(CAST(o_orderdate AS DATE))
        |                   < (SELECT mxd FROM mx) - 180
        |              THEN 1 ELSE 0 END AS ev
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
        |         CAST(sum(1 - ev) AS BIGINT) AS c
        |  FROM cust GROUP BY 1),
        |n AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM g),
        |r AS (
        |  SELECT i.t, i.d, i.c,
        |         (SELECT n_total FROM n)
        |           - coalesce((SELECT sum(p.d + p.c) FROM g p
        |                       WHERE p.t < i.t), 0) AS n_risk
        |  FROM g i),
        |e AS (SELECT t, d, c, n_risk FROM r WHERE d > 0)
        |SELECT CAST(i.t AS INT) AS t_days,
        |       CAST(i.n_risk AS BIGINT) AS n_risk,
        |       i.d AS d_events, i.c AS c_censored,
        |       round(CASE WHEN max(CASE WHEN p.d >= p.n_risk
        |                               THEN 1 ELSE 0 END) = 1 THEN 0.0
        |             ELSE exp(sum(CASE WHEN p.d < p.n_risk
        |                          THEN ln(1 - CAST(p.d AS DOUBLE) / p.n_risk)
        |                          ELSE 0.0 END)) END, 6) AS survival
        |FROM e i JOIN e p ON p.t <= i.t
        |GROUP BY 1, 2, 3, 4 ORDER BY t_days""".stripMargin) { (s, d) =>
      val od = col("o_orderdate").cast("date")
      val mx = Tables.orders(s, d).agg(max(od).as("mxd"))
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(datediff(max(od), min(od)).as("t"), max(od).as("last"))
        .join(broadcast(mx), lit(true))
        .select(col("t"),
          when(col("last") < date_sub(col("mxd"), 180), 1L)
            .otherwise(0L).as("ev"))
      val g = cust.groupBy(col("t"))
        .agg(sum(col("ev")).cast("long").as("d"),
          sum(lit(1L) - col("ev")).cast("long").as("c"))
        // ckpt(a): q215 every survival stage; lazy 1.4× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      val nTot = g.agg(sum(col("d") + col("c")).cast("long").as("n_total"))
      val past = g.select(col("t").as("pt"), (col("d") + col("c")).as("pw"))
      val r = g.join(broadcast(past), col("pt") < col("t"), "left")
        .groupBy(col("t"), col("d"), col("c"))
        .agg(coalesce(sum(col("pw")), lit(0L)).as("below"))
        .join(broadcast(nTot), lit(true))
        .select(col("t"), col("d"), col("c"),
          (col("n_total") - col("below")).cast("long").as("n_risk"))
      // ckpt(a): q215 both fold sides; lazy 1.4× at sf0.1 (BENCH_NOTES)
      val e = r.filter(col("d") > 0).eagerCkpt
      // a duration whose events exhaust its whole risk set pins S(t)=0 for
      // every t at or beyond it; its ln(0) is guarded OUT of the fold in
      // both engines (DuckDB raises on ln(0); Spark would yield null).
      val pe = e.select(col("t").as("pt"),
        (col("d") >= col("n_risk")).cast("int").as("exhausted"),
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .otherwise(0.0).as("lnf"))
      e.join(broadcast(pe), col("pt") <= col("t"))
        .groupBy(col("t"), col("n_risk"), col("d"), col("c"))
        .agg(round(when(max(col("exhausted")) === 1, 0.0)
          .otherwise(exp(sum(col("lnf")))), 6).as("survival"))
        .select(col("t").cast("int").as("t_days"), col("n_risk"),
          col("d").as("d_events"), col("c").as("c_censored"),
          col("survival"))
        .orderBy(col("t_days"))
    },

    // Empirical-Bayes shrinkage of per-supplier return rates (beta-binomial,
    // method-of-moments prior) — the fix for the classic small-sample
    // ranking trap: a supplier with 3 returns out of 8 lines should NOT
    // outrank one with 200/1000; raw rates overfit thin suppliers. A beta
    // prior is fitted to the across-supplier rate distribution by moments
    //   s₀ = μ(1−μ)/v − 1,  α = μ·s₀,  β = (1−μ)·s₀,
    // and each supplier's posterior mean is (k + α)/(n + s₀) — thin
    // suppliers pull toward the global μ, thick ones keep their data.
    // Scale shape: ONE partial-aggregated scan reduces the fact table to a
    // (supplier → k, n) frame; the prior is a single-row aggregate over
    // that frame that broadcasts back (no second corpus pass, no window).
    // k and n are exact BIGINTs in both engines; μ, v and the posterior are
    // the same double formula over them, rounded at 6.
    Q("q218_eb_shrinkage",
      """WITH s AS (
        |  SELECT l_suppkey AS sk, count(*) AS n,
        |         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
        |  FROM lineitem GROUP BY 1),
        |pr AS (
        |  SELECT avg(CAST(k AS DOUBLE) / n) AS mu,
        |         var_pop(CAST(k AS DOUBLE) / n) AS v
        |  FROM s),
        |ab AS (SELECT mu, mu * (1 - mu) / v - 1 AS s0 FROM pr)
        |SELECT CAST(sk AS BIGINT) AS s_suppkey,
        |       CAST(n AS BIGINT) AS n_lines, CAST(k AS BIGINT) AS n_returned,
        |       round(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
        |       round((k + mu * s0) / (n + s0), 6) AS eb_rate
        |FROM s, ab ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("sk"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      val prior = per
        .agg(avg(col("k").cast("double") / col("n")).as("mu"),
          var_pop(col("k").cast("double") / col("n")).as("v"))
        .select(col("mu"), (col("mu") * (lit(1) - col("mu")) / col("v") - 1)
          .as("s0"))
      per.join(broadcast(prior), lit(true))
        .select(col("sk").cast("long").as("s_suppkey"),
          col("n").cast("long").as("n_lines"),
          col("k").cast("long").as("n_returned"),
          round(col("k").cast("double") / col("n"), 6).as("raw_rate"),
          round((col("k") + col("mu") * col("s0")) / (col("n") + col("s0")), 6)
            .as("eb_rate"))
        .orderBy(col("s_suppkey"))
    },

    // Optimal 1-D segmentation (Fisher 1958 exact partition / Jenks
    // natural breaks): split the quantity domain into 3 contiguous classes
    // minimizing total within-class weighted SSE — the principled version
    // of the arbitrary histogram buckets every dashboard hard-codes.
    // For k = 3 the DP collapses to exhaustive split-pair enumeration:
    // with per-interval costs  sse(a,b) = Σnq² − (Σnq)²/Σn  precomputed
    // over all O(|domain|²) intervals, the optimum is the (s1, s2) pair
    // minimizing sse(lo,s1) + sse(s1+1,s2) + sse(s2+1,hi). Everything runs
    // on the ≤50-row distinct-quantity frame (the q185 bounded-domain
    // interval algebra): one partial-aggregated corpus scan, then
    // broadcast joins over domain-bounded frames — independent of row
    // count. SSE terms are BIGINT-ratio doubles built identically in both
    // engines, so the argmin picks the same split (ties to the lower
    // (s1, s2)); only the emitted sse/mean are rounded.
    Q("q228_natural_breaks",
      """WITH cells AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT a.q AS lo, b.q AS hi,
        |         sum(c.n * c.q * c.q)
        |           - CAST(sum(c.n * c.q) AS DOUBLE) * sum(c.n * c.q)
        |             / sum(c.n) AS sse,
        |         CAST(sum(c.n) AS BIGINT) AS nn,
        |         CAST(sum(c.n * c.q) AS BIGINT) AS sq
        |  FROM cells a JOIN cells b ON a.q <= b.q
        |  JOIN cells c ON c.q BETWEEN a.q AND b.q
        |  GROUP BY 1, 2),
        |bounds AS (SELECT min(q) AS mn, max(q) AS mx FROM cells),
        |splits AS (
        |  SELECT i1.hi AS s1, i2.hi AS s2,
        |         i1.sse + i2.sse + i3.sse AS total
        |  FROM bounds, iv i1, iv i2, iv i3
        |  WHERE i1.lo = mn AND i2.lo = i1.hi + 1 AND i3.lo = i2.hi + 1
        |    AND i3.hi = mx),
        |best AS (
        |  SELECT s1, s2, total FROM splits
        |  ORDER BY total, s1, s2 LIMIT 1),
        |seg AS (
        |  SELECT 1 AS segment, mn AS lo, s1 AS hi FROM best, bounds
        |  UNION ALL SELECT 2, s1 + 1, s2 FROM best
        |  UNION ALL SELECT 3, s2 + 1, mx FROM best, bounds)
        |SELECT seg.segment, CAST(seg.lo AS BIGINT) AS q_lo,
        |       CAST(seg.hi AS BIGINT) AS q_hi, iv.nn AS n_rows,
        |       round(CAST(iv.sq AS DOUBLE) / iv.nn, 6) AS mean_q,
        |       round(iv.sse, 6) AS sse
        |FROM seg JOIN iv ON iv.lo = seg.lo AND iv.hi = seg.hi
        |ORDER BY segment""".stripMargin) { (s, d) =>
      val cells = Tables.lineitem(s, d)
        .groupBy(col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("n"))
        // ckpt(a): q228 every interval stage; lazy 1.4× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      val xs = cells.select(col("q"))
      val iv = xs.toDF("lo")
        .join(broadcast(xs.toDF("hi")), col("lo") <= col("hi"))
        .join(broadcast(cells), col("q") >= col("lo") && col("q") <= col("hi"))
        .groupBy(col("lo"), col("hi"))
        .agg((sum(col("n") * col("q") * col("q"))
          - sum(col("n") * col("q")).cast("double")
            * sum(col("n") * col("q")) / sum(col("n"))).as("sse"),
          sum(col("n")).cast("long").as("nn"),
          sum(col("n") * col("q")).cast("long").as("sq"))
        // ckpt(a): q228 both interval sides + bounds; lazy 1.4× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      val bounds = cells.agg(min(col("q")).as("mn"), max(col("q")).as("mx"))
      val i1 = iv.select(col("lo").as("lo1"), col("hi").as("s1"),
        col("sse").as("c1"))
      val i2 = iv.select(col("lo").as("lo2"), col("hi").as("s2"),
        col("sse").as("c2"))
      val i3 = iv.select(col("lo").as("lo3"), col("hi").as("hi3"),
        col("sse").as("c3"))
      val best = i1.join(broadcast(bounds), col("lo1") === col("mn"))
        .join(broadcast(i2), col("lo2") === col("s1") + 1)
        .join(broadcast(i3),
          col("lo3") === col("s2") + 1 && col("hi3") === col("mx"))
        .select(col("s1"), col("s2"), col("mn"), col("mx"),
          (col("c1") + col("c2") + col("c3")).as("total"))
        .orderBy(col("total"), col("s1"), col("s2"))
        .limit(1)
      val seg = best.select(lit(1).as("segment"), col("mn").as("lo"),
          col("s1").as("hi"))
        .unionByName(best.select(lit(2).as("segment"),
          (col("s1") + 1).as("lo"), col("s2").as("hi")))
        .unionByName(best.select(lit(3).as("segment"),
          (col("s2") + 1).as("lo"), col("mx").as("hi")))
      seg.join(broadcast(iv), Seq("lo", "hi"))
        .select(col("segment"), col("lo").cast("long").as("q_lo"),
          col("hi").cast("long").as("q_hi"), col("nn").as("n_rows"),
          round(col("sq").cast("double") / col("nn"), 6).as("mean_q"),
          round(col("sse"), 6).as("sse"))
        .orderBy(col("segment"))
    },

    // Exponential goodness-of-fit for inter-order gaps — "is reorder
    // timing memoryless?" decides whether a marketer can model reorders
    // as a Poisson process or needs habit/periodicity terms. Gaps =
    // consecutive same-customer order intervals in whole days (same-day
    // repeats excluded: a zero gap is an artifact of date-grain
    // truncation, not a waiting time). MLE λ̂ = n/Σg; the one-sample
    // Kolmogorov-Smirnov statistic compares the empirical step CDF to
    // 1 − e^{−λg} from BOTH sides of each step (the sup is attained at a
    // jump). Scale shape: gaps come from per-customer lag windows
    // (parallel, bounded per customer); distinct gap values are a
    // DOMAIN-bounded frame whose cumulative counts run through the same
    // block-offset machinery as the q167 two-sample KS, one measure
    // ([[Ranks.globalCumSum]] minus the row's own count); one row out.
    Q("q231_exp_gap_fit",
      """WITH g0 AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |         lag(CAST(o_orderdate AS DATE)) OVER (
        |           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |           AS pd
        |  FROM orders),
        |g AS (
        |  SELECT CAST(d - pd AS BIGINT) AS v FROM g0
        |  WHERE pd IS NOT NULL AND d - pd > 0),
        |c AS (SELECT v, count(*) AS a FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS n,
        |             CAST(sum(a * v) AS BIGINT) AS sg FROM c),
        |w AS (
        |  SELECT v, a,
        |         coalesce(sum(a) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS ca
        |  FROM c),
        |k AS (
        |  SELECT max(greatest(
        |           abs((ca + a) / CAST(n AS DOUBLE)
        |               - (1 - exp(-(CAST(n AS DOUBLE) / sg) * v))),
        |           abs(ca / CAST(n AS DOUBLE)
        |               - (1 - exp(-(CAST(n AS DOUBLE) / sg) * v))))) AS d
        |  FROM w, t)
        |SELECT CAST(t.n AS BIGINT) AS n_gaps,
        |       CAST(t.sg AS BIGINT) AS sum_days,
        |       round(CAST(t.n AS DOUBLE) / t.sg, 6) AS lambda_hat,
        |       round(k.d, 6) AS ks_d,
        |       k.d > 1.358 / sqrt(CAST(t.n AS DOUBLE)) AS reject_exp
        |FROM t, k""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("pd", lag(col("o_orderdate").cast("date"), 1).over(w))
        .filter(col("pd").isNotNull)
        .select(datediff(col("o_orderdate").cast("date"), col("pd"))
          .cast("long").as("v"))
        .filter(col("v") > 0)
      val c = gaps.groupBy(col("v")).agg(count(lit(1)).as("a"))
      val t = c.agg(sum(col("a")).cast("long").as("n"),
        sum(col("a") * col("v")).cast("long").as("sg"))
      val lam = col("n").cast("double") / col("sg")
      val fexp = lit(1) - exp(-lam * col("v"))
      val kd = Ranks.globalCumSum(c, 32, col("a"), col("v"))
        .withColumn("ca", col("cum") - col("a"))
        .join(broadcast(t), lit(true))
        .select(greatest(
          abs((col("ca") + col("a")) / col("n").cast("double") - fexp),
          abs(col("ca") / col("n").cast("double") - fexp)).as("dd"))
        .agg(max(col("dd")).as("d"))
      t.join(broadcast(kd), lit(true))
        .select(col("n").as("n_gaps"), col("sg").as("sum_days"),
          round(col("n").cast("double") / col("sg"), 6).as("lambda_hat"),
          round(col("d"), 6).as("ks_d"),
          (col("d") > lit(1.358) / sqrt(col("n").cast("double")))
            .as("reject_exp"))
    },

    // Coarsened exact matching (CEM, Iacus-King-Porro 2012) — the causal
    // estimate q189's diff-in-diff can't give when there is no time
    // dimension: the ATT of discounting (≥5%) on line revenue, comparing
    // treated and control lines ONLY within exactly-matching
    // (part, quantity) strata, so the part's price level and the ordered
    // quantity are held fixed by construction. Strata with no control (or
    // no treated) rows drop out — and the DROPPED treated count is
    // emitted, because silently shrinking the estimand is how matching
    // studies lie. ATT = Σ_s n_t,s·(ȳ_t,s − ȳ_c,s) / Σ_s n_t,s. Scale
    // shape: ONE partial-aggregated scan to the strata frame (bounded by
    // |parts|×|quantities|); everything after is arithmetic on that
    // frame. Cell sums are exact cents; the two divisions happen at the
    // final rounded step.
    Q("q240_cem_att",
      """WITH s AS (
        |  SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS q,
        |         CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_t,
        |         CAST(sum(CASE WHEN l_discount >= 0.05
        |                  THEN CAST(round(l_extendedprice * 100, 0)
        |                            AS BIGINT) ELSE 0 END) AS BIGINT)
        |           AS s_t,
        |         CAST(sum(CASE WHEN l_discount < 0.05 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_c,
        |         CAST(sum(CASE WHEN l_discount < 0.05
        |                  THEN CAST(round(l_extendedprice * 100, 0)
        |                            AS BIGINT) ELSE 0 END) AS BIGINT)
        |           AS s_c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT * FROM s WHERE n_t > 0 AND n_c > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |       CAST(sum(n_t) AS BIGINT) AS n_treated_matched,
        |       (SELECT CAST(coalesce(sum(n_t), 0) AS BIGINT) FROM s
        |        WHERE n_t > 0 AND n_c = 0) AS n_treated_dropped,
        |       round(sum(n_t * (CAST(s_t AS DOUBLE) / n_t
        |                        - CAST(s_c AS DOUBLE) / n_c))
        |             / sum(n_t), 6) AS att_cents
        |FROM m""".stripMargin) { (s, d) =>
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val treated = col("l_discount") >= 0.05
      val strata = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"),
          col("l_quantity").cast("long").as("q"))
        .agg(sum(when(treated, 1L).otherwise(0L)).as("n_t"),
          sum(when(treated, cents).otherwise(0L)).as("s_t"),
          sum(when(!treated, 1L).otherwise(0L)).as("n_c"),
          sum(when(!treated, cents).otherwise(0L)).as("s_c"))
      val dropped = strata.filter(col("n_t") > 0 && col("n_c") === 0)
        .agg(coalesce(sum(col("n_t")), lit(0L)).cast("long")
          .as("n_treated_dropped"))
      strata.filter(col("n_t") > 0 && col("n_c") > 0)
        .agg(count(lit(1)).cast("long").as("n_strata"),
          sum(col("n_t")).cast("long").as("n_treated_matched"),
          round(sum(col("n_t") * (col("s_t").cast("double") / col("n_t")
            - col("s_c").cast("double") / col("n_c"))) / sum(col("n_t")), 6)
            .as("att_cents"))
        .join(broadcast(dropped), lit(true))
        .select(col("n_strata"), col("n_treated_matched"),
          col("n_treated_dropped"), col("att_cents"))
    },

    // Two-way variance decomposition of daily order value by day-of-week
    // and month — "is revenue seasonality a weekday effect, a monthly
    // effect, or their interaction?" For each factor F, the
    // between-groups sum of squares SS_F = Σ_g n_g(ȳ_g − ȳ)² expands to
    // Σ_g S_g²/n_g − S²/N over exact integer (n, Σcents) cells, so the
    // whole decomposition — dow, month, the dow×month cells, and total —
    // comes from ONE partial-aggregated scan to the ≤84-cell frame, with
    // the interaction read off as SS_cells − SS_dow − SS_month. η² ratios
    // (variance explained) are the same double divisions in both
    // engines, rounded at 6; SS magnitudes (~1e21 cent²) round at the
    // integer-cent² grain via their exact-ratio construction and are
    // emitted ÷10⁹ at round-3 to sit safely inside double precision.
    Q("q246_variance_decomp",
      """WITH c AS (
        |  SELECT CAST(dayofweek(o_orderdate) AS INT) AS dw,
        |         CAST(month(o_orderdate) AS INT) AS mo,
        |         count(*) AS n,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s,
        |         sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |               AS HUGEINT)
        |             * CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s2
        |  FROM orders GROUP BY 1, 2),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |         CAST(sum(s) AS BIGINT) AS ss,
        |         sum(CAST(s2 AS DOUBLE)) AS sq FROM c),
        |f AS (
        |  SELECT
        |    (SELECT sum(CAST(s AS DOUBLE) * s / n)
        |     FROM (SELECT sum(n) AS n, sum(s) AS s FROM c GROUP BY dw))
        |      AS fit_dw,
        |    (SELECT sum(CAST(s AS DOUBLE) * s / n)
        |     FROM (SELECT sum(n) AS n, sum(s) AS s FROM c GROUP BY mo))
        |      AS fit_mo,
        |    (SELECT sum(CAST(s AS DOUBLE) * s / n) FROM c) AS fit_cell)
        |SELECT t.nn AS n_orders,
        |       round((t.sq - CAST(t.ss AS DOUBLE) * t.ss / t.nn) / 1e9, 3)
        |         AS ss_total_b,
        |       round((f.fit_dw - CAST(t.ss AS DOUBLE) * t.ss / t.nn) / 1e9,
        |             3) AS ss_dow_b,
        |       round((f.fit_mo - CAST(t.ss AS DOUBLE) * t.ss / t.nn) / 1e9,
        |             3) AS ss_month_b,
        |       round((f.fit_cell - f.fit_dw - f.fit_mo
        |              + CAST(t.ss AS DOUBLE) * t.ss / t.nn) / 1e9, 3)
        |         AS ss_interact_b,
        |       round((f.fit_dw - CAST(t.ss AS DOUBLE) * t.ss / t.nn)
        |             / (t.sq - CAST(t.ss AS DOUBLE) * t.ss / t.nn), 6)
        |         AS eta2_dow,
        |       round((f.fit_mo - CAST(t.ss AS DOUBLE) * t.ss / t.nn)
        |             / (t.sq - CAST(t.ss AS DOUBLE) * t.ss / t.nn), 6)
        |         AS eta2_month
        |FROM t, f""".stripMargin) { (s, d) =>
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val c = Tables.orders(s, d)
        .groupBy(dayofweek(col("o_orderdate")).cast("int").as("dw"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(count(lit(1)).as("n"), sum(cents).as("s"),
          // per-row cents² ≈ 3e15 fits BIGINT; the SUM does not at sf≥1
          // (~18k orders/cell × 3e15 ≈ 5e19 > 2⁶³) — accumulate in
          // DECIMAL(38,0), mirroring the oracle's HUGEINT.
          sum(cents.cast("decimal(19,0)") * cents).as("s2"))
        // ckpt(a): three fit head() jobs + the output read the cell frame
        .eagerCkpt
      def fit(df: org.apache.spark.sql.DataFrame) =
        df.agg(sum(col("s").cast("double") * col("s") / col("n")))
          .head().getDouble(0)
      val fitDw = fit(c.groupBy(col("dw"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s")))
      val fitMo = fit(c.groupBy(col("mo"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s")))
      val fitCell = fit(c)
      val t = c.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("s")).cast("long").as("ss"),
        sum(col("s2").cast("double")).as("sq"))
      val grand = col("ss").cast("double") * col("ss") / col("nn")
      val ssTot = col("sq") - grand
      t.select(col("nn").as("n_orders"),
        round(ssTot / 1e9, 3).as("ss_total_b"),
        round((lit(fitDw) - grand) / 1e9, 3).as("ss_dow_b"),
        round((lit(fitMo) - grand) / 1e9, 3).as("ss_month_b"),
        round((lit(fitCell) - lit(fitDw) - lit(fitMo) + grand) / 1e9, 3)
          .as("ss_interact_b"),
        round((lit(fitDw) - grand) / ssTot, 6).as("eta2_dow"),
        round((lit(fitMo) - grand) / ssTot, 6).as("eta2_month"))
    },

    // Neyman allocation (optimal stratified sample design, Neyman 1934):
    // a 1000-document sampling budget split across sources proportional
    // to N_h·σ_h — variable strata deserve more samples than uniform
    // proportional allocation gives them. σ_h is the exact population sd
    // from integer power sums; fractional allocations round by LARGEST
    // REMAINDER (the q178 protocol: ⌊·⌋ first, the leftover units to the
    // biggest remainders, ties to the lexicographically first source) so
    // the allocations sum EXACTLY to the budget. Scale shape: one
    // partial-aggregated scan to the |sources| strata frame; every
    // window below runs on that bounded frame.
    Q("q248_neyman_allocation",
      """WITH s AS (
        |  SELECT source, count(*) AS n,
        |         sum(CAST(n_chars AS DOUBLE)) AS s1,
        |         sum(CAST(n_chars AS DOUBLE) * n_chars) AS s2
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n, sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd
        |  FROM s),
        |t AS (SELECT sum(n * sd) AS tot FROM w),
        |r AS (
        |  SELECT source, n, sd, 1000 * n * sd / tot AS raw,
        |         floor(1000 * n * sd / tot) AS base,
        |         1000 * n * sd / tot - floor(1000 * n * sd / tot) AS rem
        |  FROM w, t),
        |lr AS (
        |  SELECT source, n, sd, base, rem,
        |         row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |         (SELECT 1000 - sum(base) FROM r) AS leftover
        |  FROM r)
        |SELECT source, CAST(n AS BIGINT) AS n_docs, round(sd, 6) AS sd_chars,
        |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |            AS BIGINT) AS alloc
        |FROM lr ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val st = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("double")).as("s1"),
          sum(col("n_chars").cast("double") * col("n_chars")).as("s2"))
        .withColumn("sd", sqrt(col("s2") / col("n")
          - (col("s1") / col("n")) * (col("s1") / col("n"))))
      val tot = st.agg(sum(col("n") * col("sd")).as("tot"))
      val r = st.join(broadcast(tot), lit(true))
        .withColumn("raw", lit(1000) * col("n") * col("sd") / col("tot"))
        .withColumn("base", floor(col("raw")))
        .withColumn("rem", col("raw") - col("base"))
      val leftover = r.agg((lit(1000) - sum(col("base"))).as("leftover"))
      // bounded |sources| frame: the remainder-rank window is domain-sized
      val rk = Window.orderBy(desc("rem"), asc("source"))
      r.withColumn("rk", row_number().over(rk))
        .join(broadcast(leftover), lit(true))
        .select(col("source"), col("n").cast("long").as("n_docs"),
          round(col("sd"), 6).as("sd_chars"),
          (col("base") + when(col("rk") <= col("leftover"), 1).otherwise(0))
            .cast("long").as("alloc"))
        .orderBy(col("source"))
    },

    // Group-sequential A/B monitoring (O'Brien-Fleming-style boundaries):
    // three interim looks at thirds of the experiment calendar, each
    // comparing user-level FAST ACTIVATION (first purchase within 7 days
    // of the user's first event — plain "ever purchased" saturates near
    // 100% on this corpus and the z degenerates) between the two hash
    // variants (user_id parity) with a pooled two-proportion z — and each
    // look held to its own DESCENDING significance boundary (3.471 /
    // 2.454 / 2.004: strict early, nominal-ish late), the discipline that
    // stops "peek until significant" from inflating false positives.
    // Scale shape: the event corpus reduces ONCE to per-user (first day,
    // first purchase day); the 3-row look spine broadcasts on; every
    // look's counts are conditional sums of that reduction. All counts
    // exact; z is the same double formula both engines.
    Q("q257_sequential_ab",
      """WITH b AS (
        |  SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
        |  FROM events),
        |u AS (
        |  SELECT user_id % 2 AS v, min(CAST(ts AS DATE)) AS fd,
        |         min(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(ts AS DATE) END) AS pd
        |  FROM events GROUP BY user_id),
        |looks AS (
        |  SELECT 1 AS look, mn + CAST((mx - mn) // 3 AS INTEGER) AS cut,
        |         CAST(3.471 AS DOUBLE) AS bound
        |  FROM b
        |  UNION ALL
        |  SELECT 2, mn + CAST(2 * (mx - mn) // 3 AS INTEGER),
        |         CAST(2.454 AS DOUBLE) FROM b
        |  UNION ALL SELECT 3, mx, CAST(2.004 AS DOUBLE) FROM b),
        |c AS (
        |  SELECT look, cut, bound,
        |         sum(CASE WHEN v = 0 AND fd <= cut THEN 1 ELSE 0 END) AS n0,
        |         sum(CASE WHEN v = 0 AND pd <= cut AND pd <= fd + 7
        |                  THEN 1 ELSE 0 END) AS x0,
        |         sum(CASE WHEN v = 1 AND fd <= cut THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN v = 1 AND pd <= cut AND pd <= fd + 7
        |                  THEN 1 ELSE 0 END) AS x1
        |  FROM u, looks GROUP BY 1, 2, 3),
        |z AS (
        |  SELECT look, cut, bound, n0, x0, n1, x1,
        |         CASE WHEN n0 > 0 AND n1 > 0
        |               AND x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN
        |           (CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
        |           / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |                  * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |                  * (1.0 / n0 + 1.0 / n1)) END AS zv
        |  FROM c)
        |SELECT CAST(look AS INT) AS look, cut AS look_end,
        |       CAST(n0 AS BIGINT) AS n_control,
        |       CAST(x0 AS BIGINT) AS conv_control,
        |       CAST(n1 AS BIGINT) AS n_variant,
        |       CAST(x1 AS BIGINT) AS conv_variant,
        |       round(zv, 6) AS z, bound AS boundary,
        |       coalesce(abs(zv) > bound, false) AS significant
        |FROM z ORDER BY look""".stripMargin) { (s, d) =>
      val b = Tables.events(s, d)
        .agg(min(col("ts").cast("date")).as("mn"),
          max(col("ts").cast("date")).as("mx"))
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("fd"),
          min(when(col("event_type") === "purchase",
            col("ts").cast("date"))).as("pd"))
        .select((col("user_id") % 2).as("v"), col("fd"), col("pd"))
      val span = datediff(col("mx"), col("mn"))
      val looks = b.select(lit(1).as("look"),
          date_add(col("mn"), expr("CAST(datediff(mx, mn) div 3 AS INT)"))
            .as("cut"), lit(3.471).as("bound"))
        .unionByName(b.select(lit(2).as("look"),
          date_add(col("mn"),
            expr("CAST(2 * datediff(mx, mn) div 3 AS INT)")).as("cut"),
          lit(2.454).as("bound")))
        .unionByName(b.select(lit(3).as("look"), col("mx").as("cut"),
          lit(2.004).as("bound")))
      val c = u.join(broadcast(looks), lit(true))
        .groupBy(col("look"), col("cut"), col("bound"))
        .agg(
          sum(when(col("v") === 0 && col("fd") <= col("cut"), 1L)
            .otherwise(0L)).as("n0"),
          sum(when(col("v") === 0 && col("pd") <= col("cut") &&
            col("pd") <= date_add(col("fd"), 7), 1L)
            .otherwise(0L)).as("x0"),
          sum(when(col("v") === 1 && col("fd") <= col("cut"), 1L)
            .otherwise(0L)).as("n1"),
          sum(when(col("v") === 1 && col("pd") <= col("cut") &&
            col("pd") <= date_add(col("fd"), 7), 1L)
            .otherwise(0L)).as("x1"))
      val pool = (col("x0") + col("x1")).cast("double") /
        (col("n0") + col("n1"))
      // degenerate looks (no conversions yet, or unanimous conversion)
      // have zero pooled variance — z undefined, never "significant"
      val zv = when(col("n0") > 0 && col("n1") > 0 &&
        col("x0") + col("x1") > 0 &&
        col("x0") + col("x1") < col("n0") + col("n1"),
        (col("x0").cast("double") / col("n0")
          - col("x1").cast("double") / col("n1")) /
          sqrt(pool * (lit(1) - pool) *
            (lit(1.0) / col("n0") + lit(1.0) / col("n1"))))
      c.withColumn("zv", zv)
        .select(col("look").cast("int").as("look"),
          col("cut").as("look_end"),
          col("n0").cast("long").as("n_control"),
          col("x0").cast("long").as("conv_control"),
          col("n1").cast("long").as("n_variant"),
          col("x1").cast("long").as("conv_variant"),
          round(col("zv"), 6).as("z"), col("bound").as("boundary"),
          coalesce(abs(col("zv")) > col("bound"), lit(false))
            .as("significant"))
        .orderBy(col("look"))
    },

    // Odds ratios with Woolf confidence intervals by market segment —
    // the epidemiologist's 2×2 read applied to retail: does segment X
    // convert to 1998 activity at different ODDS than the rest of the
    // base? OR = ad/bc over the segment-vs-rest 2×2, CI via
    // exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) — the large-sample Woolf
    // interval, meaningful exactly because every cell is an exact count.
    // ONE customer⋈orders reduction to per-segment (active, inactive)
    // cells; the complement cells come from broadcast totals, no second
    // pass. A CI straddling 1.0 reads "no evidence of segment effect".
    Q("q262_segment_odds",
      """WITH act AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1998),
        |seg AS (
        |  SELECT c.c_mktsegment AS segment,
        |         CAST(sum(CASE WHEN a.o_custkey IS NOT NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(sum(CASE WHEN a.o_custkey IS NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM customer c LEFT JOIN act a ON c.c_custkey = a.o_custkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
        |             CAST(sum(b) AS BIGINT) AS tb FROM seg)
        |SELECT segment, a AS n_active, b AS n_inactive,
        |       CAST(ta - a AS BIGINT) AS rest_active,
        |       CAST(tb - b AS BIGINT) AS rest_inactive,
        |       round(CAST(a AS DOUBLE) * (tb - b)
        |             / (CAST(b AS DOUBLE) * (ta - a)), 6) AS odds_ratio,
        |       round(exp(ln(CAST(a AS DOUBLE) * (tb - b)
        |                    / (CAST(b AS DOUBLE) * (ta - a)))
        |                 - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/(ta - a)
        |                               + 1.0/(tb - b))), 6) AS ci_lo,
        |       round(exp(ln(CAST(a AS DOUBLE) * (tb - b)
        |                    / (CAST(b AS DOUBLE) * (ta - a)))
        |                 + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/(ta - a)
        |                               + 1.0/(tb - b))), 6) AS ci_hi
        |FROM seg, t ORDER BY segment""".stripMargin) { (s, d) =>
      val act = Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === 1998)
        .select(col("o_custkey")).distinct()
      val seg = Tables.customer(s, d)
        .join(act, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L))
          .cast("long").as("a"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .cast("long").as("b"))
      val t = seg.agg(sum(col("a")).cast("long").as("ta"),
        sum(col("b")).cast("long").as("tb"))
      val orv = col("a").cast("double") * (col("tb") - col("b")) /
        (col("b").cast("double") * (col("ta") - col("a")))
      val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
        + lit(1.0) / (col("ta") - col("a"))
        + lit(1.0) / (col("tb") - col("b")))
      seg.join(broadcast(t), lit(true))
        .select(col("segment"), col("a").as("n_active"),
          col("b").as("n_inactive"),
          (col("ta") - col("a")).cast("long").as("rest_active"),
          (col("tb") - col("b")).cast("long").as("rest_inactive"),
          round(orv, 6).as("odds_ratio"),
          round(exp(log(orv) - lit(1.96) * se), 6).as("ci_lo"),
          round(exp(log(orv) + lit(1.96) * se), 6).as("ci_hi"))
        .orderBy(col("segment"))
    },

    // Poisson goodness-of-fit for basket sizes — "are lines-per-order
    // Poisson?" decides whether a simulation or staffing model can use
    // the simplest arrival process. MLE λ̂ = mean basket size; expected
    // counts N·e^{−λ}λ^k/k! for each observed size k (factorials exact up
    // to the ≤7-line TPC-H basket domain). Observed counts are exact
    // integers; expected values are the same double expression both
    // engines, rounded at 4. ONE per-order reduction (partial map-side),
    // then arithmetic on the ≤|basket sizes| frame.
    Q("q264_poisson_baskets",
      """WITH b AS (
        |  SELECT l_orderkey, count(*) AS k FROM lineitem GROUP BY 1),
        |h AS (SELECT k, count(*) AS o FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |             sum(CAST(k AS DOUBLE) * o) / sum(o) AS lam FROM h),
        |f AS (
        |  SELECT k, CAST(1 AS DOUBLE) * (CASE k
        |           WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6
        |           WHEN 4 THEN 24 WHEN 5 THEN 120 WHEN 6 THEN 720
        |           WHEN 7 THEN 5040 ELSE 1 END) AS kfact, o
        |  FROM h)
        |SELECT CAST(f.k AS INT) AS basket_size,
        |       CAST(o AS BIGINT) AS observed,
        |       round(n * exp(-lam) * pow(lam, f.k) / kfact, 4) AS expected
        |FROM f, t ORDER BY basket_size""".stripMargin) { (s, d) =>
      val h = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("o"))
      val t = h.agg(sum(col("o")).cast("long").as("n"),
        (sum(col("k").cast("double") * col("o")) / sum(col("o"))).as("lam"))
      val kfact = when(col("k") === 1, 1.0).when(col("k") === 2, 2.0)
        .when(col("k") === 3, 6.0).when(col("k") === 4, 24.0)
        .when(col("k") === 5, 120.0).when(col("k") === 6, 720.0)
        .when(col("k") === 7, 5040.0).otherwise(1.0)
      h.join(broadcast(t), lit(true))
        .select(col("k").cast("int").as("basket_size"),
          col("o").cast("long").as("observed"),
          round(col("n") * exp(-col("lam")) * pow(col("lam"), col("k"))
            / kfact, 4).as("expected"))
        .orderBy(col("basket_size"))
    },

    // Mann-Kendall trend test on weekly revenue — the significance
    // companion to q175's Theil-Sen slope (same nonparametric family;
    // Theil-Sen says HOW steep, Mann-Kendall says WHETHER the trend is
    // real): S = Σ_{i<j} sign(x_j − x_i) over the weekly series, tie-
    // corrected variance, continuity-corrected z. The series is the
    // CALENDAR-bounded weekly frame, so the pairwise sign enumeration is
    // a broadcast self-join over a domain-sized frame (q162's
    // economics); S, the tie terms and Var·18 are exact integers, and
    // only z divides.
    Q("q277_mann_kendall",
      """WITH w AS (
        |  SELECT (CAST(isoyear(o_orderdate) AS INT) * 54
        |          + CAST(week(o_orderdate) AS INT)) AS wk,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
        |                       WHEN b.x < a.x THEN -1 ELSE 0 END)
        |              AS BIGINT) AS s_stat
        |  FROM w a JOIN w b ON a.wk < b.wk),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t0 * (t0 - 1) * (2 * t0 + 5)), 0)
        |              AS BIGINT) AS tie18
        |  FROM (SELECT count(*) AS t0 FROM w GROUP BY x HAVING count(*) > 1)),
        |v AS (
        |  SELECT (n * (n - 1) * (2 * n + 5) - tie18) / 18.0 AS var_s
        |  FROM t, ties)
        |SELECT t.n AS n_weeks, s.s_stat,
        |       round(v.var_s, 6) AS var_s,
        |       round(CASE WHEN s.s_stat > 0
        |                  THEN (s.s_stat - 1) / sqrt(v.var_s)
        |                  WHEN s.s_stat < 0
        |                  THEN (s.s_stat + 1) / sqrt(v.var_s)
        |                  ELSE 0.0 END, 6) AS z,
        |       abs(CASE WHEN s.s_stat > 0
        |                THEN (s.s_stat - 1) / sqrt(v.var_s)
        |                WHEN s.s_stat < 0
        |                THEN (s.s_stat + 1) / sqrt(v.var_s)
        |                ELSE 0.0 END) > 1.96 AS trend_significant
        |FROM t, s, v""".stripMargin) { (s, d) =>
      // ISO year = year of the week's Thursday (Monday-truncated week
      // + 3 days), matching q224's derivation — the CALENDAR year would
      // merge Jan-1 dates into the PREVIOUS December's week bucket ~360
      // days away, corrupting the series order Mann-Kendall depends on.
      val isoYear = year(date_add(
        date_trunc("week", col("o_orderdate")).cast("date"), 3))
      val w = Tables.orders(s, d)
        .groupBy((isoYear * 54
          + weekofyear(col("o_orderdate")).cast("int")).as("wk"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .cast("long").as("x"))
        // ckpt(a): q277 pairs, count + ties; lazy 1.5× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val sStat = w.toDF("wa", "xa")
        .join(broadcast(w.toDF("wb", "xb")), col("wa") < col("wb"))
        .agg(sum(when(col("xb") > col("xa"), 1L)
          .when(col("xb") < col("xa"), -1L).otherwise(0L))
          .cast("long").as("s_stat"))
      val t = w.agg(count(lit(1)).cast("long").as("n"))
      val ties = w.groupBy(col("x")).agg(count(lit(1)).as("t0"))
        .filter(col("t0") > 1)
        .agg(coalesce(sum(col("t0") * (col("t0") - 1)
          * (lit(2) * col("t0") + 5)), lit(0L)).cast("long").as("tie18"))
      val varS = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
        - col("tie18")) / 18.0
      val z = when(col("s_stat") > 0,
        (col("s_stat") - 1) / sqrt(col("var_s")))
        .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(col("var_s")))
        .otherwise(0.0)
      t.join(broadcast(ties), lit(true))
        .withColumn("var_s", varS)
        .join(broadcast(sStat), lit(true))
        .select(col("n").as("n_weeks"), col("s_stat"),
          round(col("var_s"), 6).as("var_s"),
          round(z, 6).as("z"),
          (abs(z) > 1.96).as("trend_significant"))
    },

    // Randomization-health check for the q68/q257 hash split — is the
    // md5 assignment INDEPENDENT of market segment? A χ² independence
    // test over the 2×|segments| contingency of split × c_mktsegment
    // (expected cells from margins, df = |segments|−1): a sound hash
    // passes; a skew here would mean every "A/B difference" downstream is
    // confounded by segment mix. ONE customer-scan reduction to the
    // bounded cell frame; margins re-aggregate the cells; exact counts
    // everywhere, χ² assembled at the final rounded step.
    Q("q278_split_balance",
      """WITH c AS (
        |  SELECT CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
        |                   < '8' THEN 'a' ELSE 'b' END AS split,
        |         c_mktsegment AS seg, count(*) AS o
        |  FROM customer GROUP BY 1, 2),
        |m AS (
        |  SELECT split, sum(o) AS rs FROM c GROUP BY 1),
        |g AS (SELECT seg, sum(o) AS cs FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |             CAST(count(*) AS BIGINT) AS n_cells FROM c),
        |x AS (
        |  SELECT sum(pow(c.o - CAST(m.rs AS DOUBLE) * g.cs / t.n, 2)
        |             / (CAST(m.rs AS DOUBLE) * g.cs / t.n)) AS chi2
        |  FROM c JOIN m USING (split) JOIN g USING (seg), t)
        |SELECT t.n AS n_customers,
        |       CAST((SELECT count(*) FROM g) - 1 AS BIGINT) AS df,
        |       round(x.chi2, 6) AS chi2,
        |       x.chi2 < 9.488 AS randomization_ok
        |FROM t, x""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
        .groupBy(when(substring(md5(col("c_custkey").cast("string")
          .cast("binary")), 1, 1) < "8", "a").otherwise("b").as("split"),
          col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("o"))
      val m = c.groupBy(col("split")).agg(sum(col("o")).as("rs"))
      val g = c.groupBy(col("seg")).agg(sum(col("o")).as("cs"))
      val t = c.agg(sum(col("o")).cast("long").as("n"))
      val dfree = g.agg((count(lit(1)) - 1).cast("long").as("df"))
      val e = col("rs").cast("double") * col("cs") / col("n")
      val chi2 = c.join(broadcast(m), "split").join(broadcast(g), "seg")
        .join(broadcast(t), lit(true))
        .agg(sum(pow(col("o") - e, 2) / e).as("chi2"))
      t.join(broadcast(dfree), lit(true))
        .join(broadcast(chi2), lit(true))
        .select(col("n").as("n_customers"), col("df"),
          round(col("chi2"), 6).as("chi2"),
          (col("chi2") < 9.488).as("randomization_ok"))
    },

    // Macro-vs-micro averaging audit — the aggregation-bias check every
    // multi-language corpus report needs: the MICRO mean (per-document)
    // of document length against the MACRO mean (average of per-language
    // means). When one language dominates, micro ≈ the dominant
    // language's mean while macro weights every language equally — the
    // gap between them IS the imbalance a "mean doc length" headline
    // hides (same trap as micro/macro F1). One partial-aggregated scan
    // to the |languages|-row frame; everything after runs on that
    // bounded domain. Exact integer sums; doubles only at the final
    // ratios, rounded at 6.
    Q("q284_macro_micro",
      """WITH l AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(sum(chars) AS BIGINT) AS n_chars,
        |         CAST(count(*) AS BIGINT) AS n_langs,
        |         CAST(max(n) AS BIGINT) AS max_n,
        |         sum(CAST(chars AS DOUBLE) / n) / count(*) AS macro
        |  FROM l)
        |SELECT n_docs, n_langs,
        |       round(CAST(n_chars AS DOUBLE) / n_docs, 6)
        |         AS micro_mean_chars,
        |       round(macro, 6) AS macro_mean_chars,
        |       round(macro - CAST(n_chars AS DOUBLE) / n_docs, 6)
        |         AS macro_micro_gap,
        |       round(CAST(max_n AS DOUBLE) / n_docs, 6) AS dominant_share
        |FROM t""".stripMargin) { (s, d) =>
      val l = Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("chars"))
      l.agg(sum(col("n")).cast("long").as("n_docs"),
          sum(col("chars")).cast("long").as("n_chars"),
          count(lit(1)).cast("long").as("n_langs"),
          max(col("n")).cast("long").as("max_n"),
          (sum(col("chars").cast("double") / col("n")) / count(lit(1)))
            .as("macro"))
        .select(col("n_docs"), col("n_langs"),
          round(col("n_chars").cast("double") / col("n_docs"), 6)
            .as("micro_mean_chars"),
          round(col("macro"), 6).as("macro_mean_chars"),
          round(col("macro") - col("n_chars").cast("double")
            / col("n_docs"), 6).as("macro_micro_gap"),
          round(col("max_n").cast("double") / col("n_docs"), 6)
            .as("dominant_share"))
    },

    // Hill tail-index estimator — the heavy-tail diagnostic a revenue (or
    // token-frequency) distribution gets before anyone trusts a mean:
    // over the top k+1 order statistics x_(1) ≥ … ≥ x_(k+1),
    // H = (1/k)·Σ ln(x_(i)/x_(k+1)) and α̂ = 1/H (Hill 1975). α̂ ≤ ~2
    // means infinite-variance territory where averages are unstable.
    // Scale shape: the ONLY corpus-sized work is the top-(k+1) selection,
    // which compiles to TakeOrderedAndProject (per-partition heap prune +
    // tiny merge — never a full sort); the log fold runs on the bounded
    // 101-row frame. Boundary ties cost nothing: tied values at x_(k+1)
    // contribute ln(1) = 0 whichever copies survive, so the estimate is
    // deterministic. Exact cents; doubles only inside ln, rounded at 6.
    Q("q288_hill_tail",
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders ORDER BY cents DESC LIMIT 101),
        |m AS (SELECT CAST(min(cents) AS BIGINT) AS xk FROM v),
        |h AS (SELECT sum(ln(CAST(cents AS DOUBLE) / xk)) / 100.0 AS hh
        |      FROM v, m)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
        |       CAST(100 AS INT) AS k, m.xk AS xk_cents,
        |       round(h.hh, 6) AS hill_h,
        |       round(1.0 / h.hh, 6) AS hill_alpha
        |FROM m, h""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val v = o.select(round(col("o_totalprice") * 100, 0).cast("long")
          .as("cents"))
        .orderBy(desc("cents")).limit(101)
        // ckpt(a): q288 the min + the fold; lazy 1.8× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val m = v.agg(min(col("cents")).cast("long").as("xk"))
      val h = v.join(broadcast(m), lit(true))
        .agg((sum(log(col("cents").cast("double") / col("xk"))) / 100.0)
          .as("hh"))
      o.agg(count(lit(1)).cast("long").as("n_orders"))
        .join(broadcast(m), lit(true))
        .join(broadcast(h), lit(true))
        .select(col("n_orders"), lit(100).as("k"),
          col("xk").as("xk_cents"), round(col("hh"), 6).as("hill_h"),
          round(lit(1.0) / col("hh"), 6).as("hill_alpha"))
    },

    // Post-stratified average-treatment-effect — the confounder-adjusted
    // companion to q163's raw A/B read: with the q68 hash split as
    // "treatment" and market segment as the stratum, the stratified ATE
    // Σ_s (n_s/N)·(ȳ_treated,s − ȳ_control,s) equals inverse-propensity
    // weighting with the exact discrete propensity — the estimator that
    // stays unbiased when assignment correlates with segment mix (q278
    // tests THAT; this computes the effect as if it did). Scale shape:
    // customer revenue reduces once (orders left-join keeps zero-order
    // customers at y = 0), then everything runs on the |segments|-row
    // frame — exact BIGINT sums per stratum, doubles only in the final
    // |segments|-term combination. Rounded at 4 (cents scale).
    Q("q289_stratified_ate",
      """WITH y AS (
        |  SELECT c.c_custkey,
        |         c.c_mktsegment AS seg,
        |         substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 1) < '8'
        |           AS treated,
        |         CAST(coalesce(sum(CAST(round(o.o_totalprice * 100, 0)
        |                  AS BIGINT)), 0) AS BIGINT) AS rev
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n_seg,
        |         CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
        |           AS nt,
        |         CAST(sum(CASE WHEN treated THEN rev ELSE 0 END)
        |              AS BIGINT) AS st,
        |         CAST(sum(CASE WHEN NOT treated THEN rev ELSE 0 END)
        |              AS BIGINT) AS sc
        |  FROM y GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_seg) AS BIGINT) AS n,
        |         CAST(sum(nt) AS BIGINT) AS n_t,
        |         CAST(sum(st) AS BIGINT) AS tot_t,
        |         CAST(sum(sc) AS BIGINT) AS tot_c
        |  FROM g),
        |a AS (
        |  SELECT sum((CAST(n_seg AS DOUBLE) / t.n)
        |             * (CAST(st AS DOUBLE) / nt
        |                - CAST(sc AS DOUBLE) / (n_seg - nt))) AS ate
        |  FROM g, t)
        |SELECT t.n AS n_customers, t.n_t AS n_treated,
        |       round(CAST(tot_t AS DOUBLE) / n_t
        |             - CAST(tot_c AS DOUBLE) / (n - n_t), 4)
        |         AS naive_diff_cents,
        |       round(a.ate, 4) AS strat_ate_cents
        |FROM t, a""".stripMargin) { (s, d) =>
      val y = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          (substring(md5(col("c_custkey").cast("string")), 1, 1) < "8")
            .as("treated"))
        .join(Tables.orders(s, d)
          .select(col("o_custkey").as("c_custkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
          Seq("c_custkey"), "left")
        .groupBy(col("c_custkey"), col("seg"), col("treated"))
        .agg(coalesce(sum(col("cents")), lit(0L)).cast("long").as("rev"))
      val g = y.groupBy(col("seg"))
        .agg(count(lit(1)).cast("long").as("n_seg"),
          sum(when(col("treated"), 1L).otherwise(0L)).cast("long").as("nt"),
          sum(when(col("treated"), col("rev")).otherwise(0L)).cast("long")
            .as("st"),
          sum(when(!col("treated"), col("rev")).otherwise(0L)).cast("long")
            .as("sc"))
      val t = g.agg(sum(col("n_seg")).cast("long").as("n"),
        sum(col("nt")).cast("long").as("n_t"),
        sum(col("st")).cast("long").as("tot_t"),
        sum(col("sc")).cast("long").as("tot_c"))
      val a = g.join(broadcast(t), lit(true))
        .agg(sum((col("n_seg").cast("double") / col("n"))
          * (col("st").cast("double") / col("nt")
            - col("sc").cast("double") / (col("n_seg") - col("nt"))))
          .as("ate"))
      t.join(broadcast(a), lit(true))
        .select(col("n").as("n_customers"), col("n_t").as("n_treated"),
          round(col("tot_t").cast("double") / col("n_t")
            - col("tot_c").cast("double") / (col("n") - col("n_t")), 4)
            .as("naive_diff_cents"),
          round(col("ate"), 4).as("strat_ate_cents"))
    }
  )
}
