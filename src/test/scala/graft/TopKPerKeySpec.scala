package graft

import graft.plans.{PartialTopKPerKeyExec, TopKStrategy}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** graft.plans.TopKStrategy: a grouped `row_number` top-k planned with the
  * per-key heap exec gives exactly the answer of Spark's own sort-based
  * plan, prunes the exchange input, and never takes over rank-like
  * functions whose `<= k` can need more than k rows at a tie. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(df: DataFrame, k: Int, rank: Column = row_number(),
      order: Seq[Column] = Seq(desc("v"), col("id"))): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(order: _*)
    df.withColumn("rn", rank.over(w)).filter(col("rn") <= k)
  }

  /** Run `body` with the heap strategy installed (`on`) or absent; the
    * frame must be built inside `body`, since a plan is fixed once made. */
  private def withStrategy[T](on: Boolean)(body: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies =
      saved.filterNot(_ == TopKStrategy) ++ (if (on) Seq(TopKStrategy) else Nil)
    try body finally spark.experimental.extraStrategies = saved
  }

  /** The grouped-limit nodes of `df`'s plan, root first: "Final" and
    * "Partial" for Spark's WindowGroupLimitExec modes, "Heap" for
    * PartialTopKPerKeyExec. */
  private def plan(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case w: WindowGroupLimitExec => w.mode.toString
      case _: PartialTopKPerKeyExec => "Heap"
    }
  private val heap = Seq("Final", "Heap")
  private val sorted = Seq("Final", "Partial")

  /** (rows, plan) of the same top-k with the strategy on and off. */
  private def onOff(build: => DataFrame) = {
    def run(on: Boolean) = withStrategy(on) {
      val df = build
      (df.select("g", "v", "id", "rn").collect()
        .map(r => (String.valueOf(r.get(0)), r.getInt(1), r.getLong(2),
          r.getInt(3)))
        .sortBy(t => (t._1, t._4, t._3)).toSeq, plan(df))
    }
    (run(on = true), run(on = false))
  }

  private lazy val synthetic = {
    // 3 groups × 200 rows with duplicate values (tie-break matters)
    val rows = for (g <- 0 until 3; i <- 0 until 200)
      yield (s"g$g", (i * 37) % 50, g * 1000L + i)
    rows.toDF("g", "v", "id").repartition(7)
  }

  test("topK equals the window-rank formulation, ties included") {
    val ((got, onPlan), (want, offPlan)) = onOff(windowTopK(synthetic, 5))
    assert(onPlan == heap && offPlan == sorted, s"$onPlan / $offPlan")
    assert(got.size == 15 && got == want)
  }

  test("seeded random frames: the heap plan equals Spark's plan") {
    for (seed <- Seq(7L, 20261020L)) {
      val rnd = new scala.util.Random(seed)
      // null keys, heavy value ties, more partitions than keys for some
      val rows = (0 until 3000).map { i =>
        (if (rnd.nextInt(40) == 0) null else s"k${rnd.nextInt(37)}",
          rnd.nextInt(20), i.toLong)
      }
      val df = rows.toDF("g", "v", "id").repartition(1 + rnd.nextInt(9))
      val k = 1 + rnd.nextInt(6)
      val ((got, onPlan), (want, _)) = onOff(windowTopK(df, k))
      assert(onPlan == heap, onPlan)
      assert(got.nonEmpty && got == want, s"seed $seed, k $k")
    }
  }

  test("an empty frame gives an empty answer on both plans") {
    // a scan whose filter matches nothing: not foldable at planning time
    val empty = Tables.lineitem(spark, sf0001).filter(col("l_quantity") < 0)
      .select(col("l_returnflag").as("g"), col("l_linenumber").as("v"),
        col("l_orderkey").as("id"))
    val ((got, onPlan), (want, _)) = onOff(windowTopK(empty, 3))
    assert(onPlan == heap, onPlan)
    assert(got.isEmpty && want.isEmpty)
  }

  private def heapOver(df: DataFrame, k: Int, maxKeys: Int): Set[Long] = {
    val child = df.queryExecution.executedPlan
    val at = child.output.map(a => a.name -> a).toMap
    val exec = PartialTopKPerKeyExec(Seq(at("g")),
      Seq(SortOrder(at("v"), Descending), SortOrder(at("id"), Ascending)),
      k, maxKeys, child)
    val id = child.output.indexWhere(_.name == "id")
    val ids = exec.execute().map(_.getLong(id)).collect()
    assert(ids.distinct.length == ids.length, "a row was emitted twice")
    ids.toSet
  }

  test("physical plan contains the custom exec and prunes the exchange input") {
    val p = withStrategy(on = true)(plan(windowTopK(synthetic, 5)))
    assert(p == heap, s"heap missing or Spark's partial kept: $p")
    // ≤ k rows per key PER INPUT PARTITION reach the exchange: with 7
    // partitions, 3 keys, k=5 that is at most 105 rows (out of 600) —
    // and never fewer than the true top-5 per key
    val n = heapOver(synthetic, 5, PartialTopKPerKeyExec.MaxKeys).size
    assert(n <= 7 * 3 * 5, s"prune let $n rows through")
    assert(n >= 3 * 5)
  }

  test("overflow valve: maxKeys=1 stays correct, just prunes less") {
    val kept = heapOver(synthetic, 5, maxKeys = 1)
    // every true top-5 row must survive the lossy prune
    val top = windowTopK(synthetic, 5).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(top.subsetOf(kept),
      s"overflow dropped true top rows: ${top -- kept}")
    assert(kept.size > heapOver(synthetic, 5, 3).size)
  }

  test("non-total order: boundary ties keep an exact order-value multiset; " +
      "row identity is the documented nondeterminism") {
    // 300 rows tie at the k-boundary value 5; ordering on v ONLY is not a
    // total order, so WHICH tied id survives the per-partition prune is
    // unspecified (see TopKStrategy's ORDER CONTRACT) — but the top-k
    // multiset of ORDER VALUES must still be exact.
    val ties = (0 until 300).map(i => ("g", 5, 1000L + i))
    val df = (ties ++ Seq(("g", 9, 1L), ("g", 8, 2L), ("g", 7, 3L)))
      .toDF("g", "v", "id").repartition(5)
    val vs = withStrategy(on = true) {
      val got = windowTopK(df, 5, order = Seq(desc("v")))
      assert(plan(got) == heap)
      got.select("v").collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(vs == Seq(5, 5, 7, 8, 9),
      s"order-value multiset must be exact under ties, got $vs")
  }

  test("rank and dense_rank stay on Spark's partial: a tie can need > k rows") {
    // one top row, then 300 rows tied for second: rank() <= 2 and
    // dense_rank() <= 2 keep all 301, which a 2-row heap would cut
    val df = ((0 until 300).map(i => ("g", 5, 1000L + i)) :+ (("g", 9, 1L)))
      .toDF("g", "v", "id").repartition(5)
    for (rank <- Seq(org.apache.spark.sql.functions.rank(), dense_rank())) {
      val ((got, onPlan), (want, _)) = onOff(
        windowTopK(df, 2, rank, Seq(desc("v"))))
      assert(onPlan == sorted, s"$rank: $onPlan")
      assert(got.size == 301 && got == want, s"$rank")
    }
  }

  test("registered via GraftExtensions.register too") {
    GraftExtensions.register(spark)
    assert(spark.experimental.extraStrategies.contains(TopKStrategy))
  }

  test("topK plans on a session whose strategy was never registered") {
    // without the strategy the window form is Spark's own sort-based
    // WindowGroupLimit partial, with the same answer
    val (on, off) = onOff(windowTopK(synthetic, 3))
    assert(off._2 == sorted, off._2)
    assert(on._1 == off._1)
  }
}
