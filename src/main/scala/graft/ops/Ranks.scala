package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** The scale-safe ranking topology and its rank→statistic arithmetic.
  * [[blockRunning]] is the engine's one block-offset implementation:
  * every global rank, running count and running sum (q130 global index,
  * q148 RFM quartiles, q53 segment windows, the Stats CDFs) goes through
  * its entry points. Once a 1-based rank and its group size n exist,
  * every SQL ranking-window function is pure map-side arithmetic on
  * (rank, n) — no further shuffle, no window. */
object Ranks {

  /** Exact integer FLOOR division a div b (b > 0), equal to
    * `Math.floorDiv` wherever a − pmod(a, b) fits a long (RetailSpec pins
    * it past 2^53): (a − a mod b) is exactly divisible by b, so the
    * integral `div` (IntegralDivide, a long result — no double anywhere,
    * which would round dividends past 2^53) truncating it IS the floor.
    * pmod keeps the remainder nonnegative, so negative dividends floor
    * (like DuckDB's `//` on nonnegative operands; NOTE DuckDB truncates
    * negatives — callers that cross engines must keep operands ≥ 0 or
    * guard the sign structurally, see q300). A zero divisor raises under
    * ANSI. Lazy inside when/otherwise branches, so callers may guard the
    * b = 0 case structurally (see [[ntileExpr]]). */
  def intDiv(a: Column, b: Column): Column =
    call_function("div", a - pmod(a, b), b)

  /** BIGINT → DECIMAL(19,0): the promotion step of the repo overflow rule
    * (BENCH_NOTES audit table) — a product of two of these lands in
    * DECIMAL(38,0) exactly, and [[intDiv]] floors it to a long. */
  def dec(x: Column): Column = x.cast("decimal(19,0)")

  /** `ntile(buckets)` of 1-based rank `r` among `n` rows — the SQL-standard
    * split (first n mod buckets buckets get one extra row): with
    * q = n div buckets and rem = n mod buckets,
    * bucket(r) = (r−1) div (q+1) + 1            for r ≤ rem·(q+1)
    * bucket(r) = rem + (r−1−rem·(q+1)) div q + 1 otherwise.
    * When q = 0 (n < buckets) the first branch covers every row, so the
    * div-by-q branch never evaluates. RetailSpec pins equality against
    * Spark's own ntile, remainder and n<buckets cases included. */
  def ntileExpr(r: Column, n: Column, buckets: Int): Column = {
    val q = intDiv(n, lit(buckets))
    val rem = pmod(n, lit(buckets))
    when(r <= rem * (q + 1), intDiv(r - 1, q + 1) + 1)
      .otherwise(rem + intDiv(r - 1 - rem * (q + 1), q) + 1)
      .cast("int")
  }

  /** `percent_rank()` of rank r among n rows under a TOTAL order (no
    * peers): (r−1)/(n−1), 0.0 for the single-row partition. */
  def percentRankExpr(r: Column, n: Column): Column =
    when(n > 1, (r - 1).cast("double") / (n - 1)).otherwise(lit(0.0))

  /** `cume_dist()` of rank r among n rows under a TOTAL order: r/n. */
  def cumeDistExpr(r: Column, n: Column): Column =
    r.cast("double") / n

  /** The one block-offset implementation (the q130 topology): running
    * values of each `running` aggregate (`count` or `sum`, under a ROWS
    * frame) in `orderBy` order within `partitionBy` groups (Nil = the whole
    * frame), WITHOUT the single-task sort of a global window.
    * Range-repartition on (partitionBy ++ orderBy) — range partitions are
    * ordered by construction, so `spark_partition_id` IS the block order
    * and a group's rows in block p all precede its rows in block p+1 —
    * aggregate per block in a fully parallel (block, group)-partitioned
    * window, and broadcast back the running totals of the earlier blocks:
    * an offsets frame of ≤`parts` rows per group (without groups, all the
    * only SinglePartition in the plan carries). With `withN` the offsets
    * frame also carries the group's row count `n`, at no extra job.
    * `orderBy` must be a TOTAL order within a group (add a key tie-break)
    * or values at range boundaries become nondeterministic. The input is
    * localCheckpointed (offsets and the local window share one shuffle);
    * callers should project it down to the columns they need first.
    * Group keys join back null-safe, so a null group is a group. */
  private def blockRunning(df: DataFrame, parts: Int, partitionBy: Seq[String],
      orderBy: Seq[Column], running: Seq[(String, Column)],
      withN: Boolean): DataFrame = {
    val groups = partitionBy.map(col)
    val parted = df.repartitionByRange(parts, groups ++ orderBy: _*)
      .withColumn("_pid", spark_partition_id())
      // ckpt(e): spark_partition_id after repartitionByRange, read twice
      .eagerCkpt
    val blockAggs = running.map { case (out, f) => f.as(s"_b_$out") } ++
      (if (withN) Seq(count(lit(1)).as("_b_n")) else Nil)
    val group = Window.partitionBy(groups: _*)
    val before = group.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val gKeys = partitionBy.indices.map(i => s"_g$i")
    val offsets = parted.groupBy(groups :+ col("_pid"): _*)
      .agg(blockAggs.head, blockAggs.tail: _*)
      .select(groups.zip(gKeys).map { case (g, k) => g.as(k) } ++
        Seq(col("_pid").as("_opid")) ++
        running.map { case (out, _) =>
          coalesce(sum(col(s"_b_$out")).over(before), lit(0L)).as(s"_o_$out")
        } ++
        (if (withN) Seq(sum(col("_b_n")).over(group).as("n")) else Nil): _*)
    val on = groups.zip(gKeys).foldLeft(col("_pid") === col("_opid")) {
      case (c, (g, k)) => c && (g <=> col(k)) }
    val local = Window.partitionBy(col("_pid") +: groups: _*)
      .orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running.foldLeft(parted.join(broadcast(offsets), on)) {
      case (f, (out, agg)) =>
        f.withColumn(out, col(s"_o_$out") + agg.over(local))
    }.drop(Seq("_pid", "_opid") ++ gKeys ++ running.map("_o_" + _._1): _*)
  }

  /** Global 1-based `row_number() OVER (ORDER BY sortExprs…)` — a LONG
    * `idx` column — in the block-offset topology ([[blockRunning]]). */
  def globalIndex(df: DataFrame, parts: Int, sortExprs: Column*): DataFrame =
    blockRunning(df, parts, Nil, sortExprs, Seq("idx" -> count(lit(1))),
      withN = false)

  /** [[globalIndex]] within each `partitionBy` group (Nil = one group,
    * the whole frame) plus the group's row count `n` — the (rank, n) pair
    * [[ntileExpr]], [[percentRankExpr]] and [[cumeDistExpr]] read. */
  def groupIndex(df: DataFrame, parts: Int, partitionBy: Seq[String],
      sortExprs: Column*): DataFrame =
    blockRunning(df, parts, partitionBy, sortExprs,
      Seq("idx" -> count(lit(1))), withN = true)

  /** Global inclusive running sum of `value` (cast to LONG) under the total
    * order `sortExprs` — `sum(value) OVER (ORDER BY … ROWS UNBOUNDED
    * PRECEDING..CURRENT ROW)` as a `cum` column, in the block-offset
    * topology ([[blockRunning]]). */
  def globalCumSum(df: DataFrame, parts: Int, value: Column,
      sortExprs: Column*): DataFrame =
    globalCumSums(df, parts, Seq("cum" -> value), sortExprs: _*)

  /** [[globalCumSum]] of several measures under one order, one column per
    * (name, value) pair, all from the same blocks. An exclusive ("strictly
    * below") sum is the inclusive one minus the row's own value. */
  def globalCumSums(df: DataFrame, parts: Int, values: Seq[(String, Column)],
      sortExprs: Column*): DataFrame =
    blockRunning(df, parts, Nil, sortExprs,
      values.map { case (out, v) => out -> sum(v.cast("long")) }, withN = false)
}
