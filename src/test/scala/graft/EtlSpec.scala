package graft

import graft.pipeline.Etl
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Reference ETL semantics on literal Walmart-shaped fixtures
  * (FIXTURES.md §A): "NA" sentinel repair, median/mode imputation,
  * calendar features, lag/rolling window edges. */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("naRepair: 'NA' string -> null float, numerics preserved (ANSI-safe)") {
    val df = Seq(("NA", "1"), ("2.5", "NA"), ("3.0", "4.5"))
      .toDF("MarkDown1", "CPI")
    val out = Etl.naRepair(df, Seq("MarkDown1", "CPI")).collect()
    assert(out(0).isNullAt(0) && out(0).getFloat(1) == 1.0f)
    assert(out(1).getFloat(0) == 2.5f && out(1).isNullAt(1))
    assert(out(2).getFloat(0) == 3.0f && out(2).getFloat(1) == 4.5f)
  }

  test("impute: median fills only nulls; idempotent on a null-free frame") {
    val df = Seq[(java.lang.Double, Int)]((1.0, 1), (3.0, 2), (null, 3), (100.0, 4))
      .toDF("x", "id")
    val filled = Etl.impute(df, Seq("x"), Nil).orderBy("id").collect()
    assert(filled.map(_.getDouble(0)).take(2).toSeq == Seq(1.0, 3.0)) // untouched
    assert(filled(2).getDouble(0) == 3.0) // GK(0.01) median of {1,3,100}
    val again = Etl.impute(Etl.impute(df, Seq("x"), Nil), Seq("x"), Nil)
      .orderBy("id").collect()
    assert(again.map(_.getDouble(0)).sameElements(filled.map(_.getDouble(0))))
  }

  test("impute: most frequent value wins, value-asc tie-break") {
    val df = Seq(Some("B"), Some("B"), Some("A"), Some("A"), None).toDF("Type")
    val out = Etl.impute(df, Nil, Seq("Type")).collect().map(_.getString(0))
    assert(out.count(_ == "A") == 3) // tie A/B at 2 -> "A" by asc tie-break
  }

  test("dateFeatures: known date decomposes per reference convention") {
    // 2010-02-05 is a Friday: dayofweek = 6 under Sunday=1 (etl.py:52)
    val df = Seq(Tuple1(java.sql.Date.valueOf("2010-02-05"))).toDF("Date")
    val r = Etl.dateFeatures(df, "Date").head()
    assert(r.getAs[Int]("Year") == 2010)
    assert(r.getAs[Int]("Month") == 2)
    assert(r.getAs[Int]("WeekOfYear") == 5)
    assert(r.getAs[Int]("DayOfWeek") == 6)
  }

  test("lag/rolling window edges: first rows of a partition null-fill to 0") {
    val df = Seq(
      (1, 1, "2010-01-01", 10.0), (1, 1, "2010-01-08", 20.0),
      (1, 1, "2010-01-15", 30.0), (1, 1, "2010-01-22", 40.0),
      (1, 1, "2010-01-29", 50.0), (1, 1, "2010-02-05", 60.0),
      (2, 1, "2010-01-01", 7.0))
      .toDF("Store", "Dept", "Date", "Weekly_Sales")
      .withColumn("Date", to_date(col("Date")))
    val out = Etl.lagFeatures(df, Seq("Store", "Dept"), "Date", "Weekly_Sales")
      .orderBy("Store", "Date").collect()
    def row(i: Int) = (out(i).getAs[Double]("Weekly_Sales_lag1"),
      out(i).getAs[Double]("Weekly_Sales_lag4"),
      out(i).getAs[Double]("Weekly_Sales_roll4"))
    assert(row(0) == (0.0, 0.0, 0.0))         // partition head: all filled
    assert(row(1) == (10.0, 0.0, 10.0))       // roll4 = avg of 1 trailing row
    assert(row(4) == (40.0, 10.0, 25.0))      // full lag4 available
    assert(row(5) == (50.0, 20.0, 35.0))      // trailing window excl. current
    assert(row(6) == (0.0, 0.0, 0.0))         // separate partition head
  }
}
