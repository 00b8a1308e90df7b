package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked imputation + feature-engineering queries: the reference
  * ETL's median/mode fill and lag/rolling features (Scripts/etl.py:17-67)
  * exercised on the test schema with *injected* nulls (the synthetic tables
  * are null-free), so the DuckDB oracle can verify fill semantics exactly.
  * Exact `percentile` is used in oracle-checked paths; the GK-sketch
  * `percentile_approx` (what the reference calls) lives in
  * pipeline.Etl.impute where cross-engine hashing doesn't apply. */
object Imputation {

  val queries: Seq[Q] = Seq(

    // Median imputation: null out a deterministic subset, fill with the
    // exact median of the remainder, aggregate. Single scalar subquery —
    // the fill constant is broadcast, not recomputed per column pass.
    Q("q37_impute_median",
      """WITH w AS (
        |  SELECT l_returnflag,
        |         CASE WHEN l_linenumber = 1 THEN NULL ELSE l_quantity END AS qty_n
        |  FROM lineitem),
        |m AS (SELECT round(quantile_cont(qty_n, 0.5), 4) AS med FROM w)
        |SELECT l_returnflag,
        |       count(*) AS n_rows,
        |       count(*) - count(qty_n) AS n_imputed,
        |       round(sum(coalesce(qty_n, med)), 2) AS sum_filled,
        |       round(avg(coalesce(qty_n, med)), 4) AS avg_filled
        |FROM w, m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val w = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          when(col("l_linenumber") === 1, lit(null)).otherwise(col("l_quantity"))
            .as("qty_n"))
      val m = w.agg(round(expr("percentile(qty_n, 0.5)"), 4).as("med"))
      w.crossJoin(broadcast(m))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("qty_n"))).as("n_imputed"),
          round(sum(coalesce(col("qty_n"), col("med"))), 2).as("sum_filled"),
          round(avg(coalesce(col("qty_n"), col("med"))), 4).as("avg_filled"))
        .orderBy(col("l_returnflag"))
    },

    // Mode imputation on a categorical with injected nulls (etl.py:25-32).
    Q("q38_impute_mode",
      """WITH w AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |              ELSE o_orderpriority END AS prio
        |  FROM orders),
        |m AS (SELECT prio AS mode_prio FROM w WHERE prio IS NOT NULL
        |      GROUP BY prio ORDER BY count(*) DESC, prio LIMIT 1)
        |SELECT coalesce(w.prio, m.mode_prio) AS prio_filled, count(*) AS n
        |FROM w, m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = Tables.orders(s, d)
        .select(when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_orderpriority")).as("prio"))
      val m = w.filter(col("prio").isNotNull)
        .groupBy(col("prio")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("prio"))
        .limit(1)
        .select(col("prio").as("mode_prio"))
      w.crossJoin(broadcast(m))
        .groupBy(coalesce(col("prio"), col("mode_prio")).as("prio_filled"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prio_filled"))
    },

    // The full Walmart lag-feature shape on lineitem (etl.py:61-67):
    // per-part lag1/lag4/roll4 with 0-fill, then aggregated per returnflag.
    Q("q39_lag_features",
      """WITH f AS (
        |  SELECT l_returnflag,
        |         coalesce(lag(l_extendedprice, 1) OVER w, 0) AS lag1,
        |         coalesce(lag(l_extendedprice, 4) OVER w, 0) AS lag4,
        |         coalesce(avg(l_extendedprice)
        |           OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 0) AS roll4
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_partkey
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |SELECT l_returnflag,
        |       round(sum(lag1), 2) AS sum_lag1,
        |       round(sum(lag4), 2) AS sum_lag4,
        |       round(sum(roll4), 2) AS sum_roll4,
        |       count(*) AS n
        |FROM f GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          coalesce(lag(col("l_extendedprice"), 1).over(w), lit(0.0)).as("lag1"),
          coalesce(lag(col("l_extendedprice"), 4).over(w), lit(0.0)).as("lag4"),
          coalesce(avg(col("l_extendedprice")).over(w.rowsBetween(-4, -1)), lit(0.0))
            .as("roll4"))
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(col("lag1")), 2).as("sum_lag1"),
          round(sum(col("lag4")), 2).as("sum_lag4"),
          round(sum(col("roll4")), 2).as("sum_roll4"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // LOCF (last observation carried forward) — the time-series fill
    // q37/q38's constant fills can't do: a missing reading takes the
    // key's most recent PRIOR value, never a global constant and never a
    // future leak. Missingness is injected deterministically (click
    // events lose their value), then filled with
    // `last(value, ignoreNulls)` over a per-user ordered running frame —
    // which also pins Spark's ignoreNulls flag against DuckDB's
    // `IGNORE NULLS` window syntax, a classic dialect-drift corner. The
    // window partitions BY USER (parallel, bounded per key); output is a
    // per-user accounting of filled vs unfillable rows with an exact-cent
    // checksum of every value the fill produced.
    Q("q252_locf_fill",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type = 'click' THEN NULL
        |              ELSE CAST(round(value * 100, 0) AS BIGINT) END AS v
        |  FROM events),
        |f AS (
        |  SELECT user_id, v,
        |         last_value(v IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS filled
        |  FROM x)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_missing,
        |       CAST(sum(CASE WHEN v IS NULL AND filled IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |       CAST(coalesce(sum(CASE WHEN v IS NULL THEN filled END), 0)
        |            AS BIGINT) AS filled_checksum
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "click", lit(null))
            .otherwise(round(col("value") * 100, 0).cast("long")).as("v"))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .groupBy(col("user_id").cast("long").as("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_missing"),
          sum(when(col("v").isNull && col("filled").isNotNull, 1L)
            .otherwise(0L)).cast("long").as("n_filled"),
          coalesce(sum(when(col("v").isNull, col("filled"))), lit(0L))
            .cast("long").as("filled_checksum"))
        .orderBy(col("user_id"))
    }
  )
}
