package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** The reference ETL stage (/root/reference/Scripts/etl.py) re-expressed as
  * composable, schema-generic DataFrame transforms.
  *
  * Differences from the reference, by design (SURVEY.md §4):
  *  - `impute` computes ALL medians and modes in ONE distributed pass over a
  *    cached input instead of re-materializing the join once per column
  *    (etl.py:17-32 recomputes the 2-join plan 11×).
  *  - No coalesce(1) anywhere (etl.py:123 collapses write parallelism).
  *  - Explicit schemas, not inferSchema (etl.py:86-89 costs a full extra
  *    read per CSV).
  */
object Etl {

  /** "NA"-sentinel repair (etl.py:96-106): literal "NA" → null → float.
    * The when() guard is mandatory under Spark 4 ANSI mode, where a bare
    * 'NA'→float cast throws instead of nulling. */
  def naRepair(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c) === "NA", lit(null)).otherwise(col(c)).cast(FloatType))
    }

  /** Median + mode imputation (etl.py:17-32) from ONE aggregation job:
    * `percentile_approx(c, 0.5, 100)` per numeric column (the reference's
    * approxQuantile at relativeError 0.01) and `mode(c, deterministic =
    * true)` per categorical one (most frequent non-null value, ties to the
    * lowest: the reference's count-desc/value-asc rule). An all-null column
    * has no statistic and keeps its nulls. */
  def impute(df: DataFrame, medianCols: Seq[String], modeCols: Seq[String]): DataFrame = {
    val cols = medianCols ++ modeCols
    if (cols.isEmpty) return df
    val stats = df.select(
      medianCols.map(c => percentile_approx(col(c), lit(0.5), lit(100)).as(c)) ++
        modeCols.map(c => mode(col(c), deterministic = true).as(c)): _*).head()
    val fill = cols.zipWithIndex.collect {
      case (c, i) if !stats.isNullAt(i) => c -> stats.get(i)
    }.toMap
    if (fill.isEmpty) df else df.na.fill(fill)
  }

  /** Calendar features (etl.py:49-52): Year/Month/WeekOfYear/DayOfWeek
    * (Sunday=1, matching the reference's comment at etl.py:52). */
  def dateFeatures(df: DataFrame, dateCol: String): DataFrame =
    df.withColumn("Year", year(col(dateCol)))
      .withColumn("Month", month(col(dateCol)))
      .withColumn("WeekOfYear", weekofyear(col(dateCol)))
      .withColumn("DayOfWeek", dayofweek(col(dateCol)))

  /** Lag + trailing-mean features (etl.py:61-67): per-key lag(1), lag(k) and
    * a ROWS [-k,-1] rolling mean, leading nulls filled with 0. `tieBreak`
    * columns make the window order total so results are deterministic. */
  def lagFeatures(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCol: String,
      valueCol: String,
      lags: Seq[Int] = Seq(1, 4),
      rollWindow: Int = 4,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (orderCol +: tieBreak).map(col)
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    val withLags = lags.foldLeft(df) { (d, k) =>
      d.withColumn(s"${valueCol}_lag$k", lag(col(valueCol), k).over(w))
    }
    withLags
      .withColumn(s"${valueCol}_roll$rollWindow",
        avg(col(valueCol)).over(w.rowsBetween(-rollWindow, -1)))
      .na.fill(
        (lags.map(k => s"${valueCol}_lag$k") :+ s"${valueCol}_roll$rollWindow")
          .map(_ -> 0.0).toMap)
  }

  /** The reference's join_all (etl.py:35-36): fact ⋈ dim on a single key,
    * then ⋈ on a composite key, USING-semantics (key deduplicated), left. */
  def joinAll(
      fact: DataFrame,
      dim1: DataFrame, key1: Seq[String],
      dim2: DataFrame, key2: Seq[String]): DataFrame =
    fact.join(broadcast(dim1), key1, "left").join(dim2, key2, "left")
}
