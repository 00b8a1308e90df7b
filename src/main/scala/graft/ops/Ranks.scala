package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Shared rank→statistic arithmetic for the scale-safe ranking topology
  * (q130 global index, q148 RFM quartiles, q53 segment windows): once a
  * global 1-based rank exists, every SQL ranking-window function is pure
  * map-side arithmetic on (rank, n) — no further shuffle, no window. */
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

  /** Global 1-based `row_number() OVER (ORDER BY sortExprs…)` WITHOUT the
    * single-task global sort — the q130 block-offset topology packaged:
    * range-repartition on the sort expressions (range partitions are
    * ordered by construction, so `spark_partition_id` IS the block
    * order), rank per-partition in a fully parallel pid-partitioned
    * window, and broadcast the ≤`parts`-row running block-offset table
    * back. The only SinglePartition in the plan carries `parts` aggregate
    * rows. `sortExprs` must be a TOTAL order (add a key tie-breaker) or
    * ranks at range boundaries become nondeterministic. Returns the input
    * plus an `idx` column; the input is localCheckpointed (offsets and
    * rank consumers share one shuffle). */
  def globalIndex(df: DataFrame, parts: Int, sortExprs: Column*): DataFrame = {
    val parted = df.repartitionByRange(parts, sortExprs: _*)
      .withColumn("pid", spark_partition_id())
      // ckpt(e): spark_partition_id after repartitionByRange, read twice
      .eagerCkpt
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("pid"), col("off"))
    val wLoc = Window.partitionBy(col("pid")).orderBy(sortExprs: _*)
    parted.join(broadcast(offsets), "pid")
      .withColumn("idx", col("off") + row_number().over(wLoc))
      .drop("pid", "off")
  }

  /** Global inclusive running sum of `value` under the total order
    * `sortExprs` — `sum(value) OVER (ORDER BY … ROWS UNBOUNDED
    * PRECEDING..CURRENT ROW)` in the same block-offset topology as
    * [[globalIndex]]: range-repartition on the sort expressions, run the
    * prefix sum per block in a fully parallel pid-partitioned window, and
    * broadcast the ≤`parts`-row running block-total table back. The only
    * SinglePartition in the plan carries `parts` aggregate rows. `value`
    * must reference columns of `df`; callers should project the frame down
    * to the columns they need BEFORE calling (the parted frame is
    * localCheckpointed for its two consumers — block totals and the local
    * window). Returns the input plus a `cum` column (LongType). */
  def globalCumSum(df: DataFrame, parts: Int, value: Column,
      sortExprs: Column*): DataFrame = {
    val parted = df.repartitionByRange(parts, sortExprs: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("cs_v", value.cast("long"))
      // ckpt(e): spark_partition_id after repartitionByRange, read twice
      .eagerCkpt
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("pid")).agg(sum(col("cs_v")).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("pid"), col("off"))
    val wLoc = Window.partitionBy(col("pid")).orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    parted.join(broadcast(offsets), "pid")
      .withColumn("cum", col("off") + sum(col("cs_v")).over(wLoc))
      .drop("pid", "off", "cs_v")
  }
}
