package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.functions._

/** graft.plans.TopKPerKey — the custom logical+physical operator: exact
  * equivalence with the window-rank formulation, real pruning in the
  * physical plan, and the overflow valve's correctness guarantee. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(desc("v"), col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  private lazy val synthetic = {
    // 3 groups × 200 rows with duplicate values (tie-break matters)
    val rows = for (g <- 0 until 3; i <- 0 until 200)
      yield (s"g$g", (i * 37) % 50, g * 1000L + i)
    rows.toDF("g", "v", "id").repartition(7)
  }

  test("topK equals the window-rank formulation, ties included") {
    TopKPerKey.register(spark)
    val got = TopKPerKey.topK(synthetic, Seq("g"),
      Seq("v" -> false, "id" -> true), 5)
      .select("g", "v", "id", "rn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val want = windowTopK(synthetic, 5)
      .select("g", "v", "id", "rn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.toSeq == want.toSeq)
  }

  test("physical plan contains the custom exec and prunes the exchange input") {
    TopKPerKey.register(spark)
    val pruned = TopKPerKey.pruned(synthetic, Seq("g"),
      Seq("v" -> false, "id" -> true), 5)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopKPerKey"),
      s"custom operator missing from plan:\n$plan")
    // ≤ k rows per key PER INPUT PARTITION survive the prune: with 7
    // partitions, 3 keys, k=5 that is at most 105 rows (out of 600) —
    // and never fewer than the true top-5 per key
    val n = pruned.count()
    assert(n <= 7L * 3 * 5, s"prune let $n rows through")
    assert(n >= 3L * 5)
  }

  test("overflow valve: maxKeys=1 stays correct, just prunes less") {
    TopKPerKey.register(spark)
    val surv = TopKPerKey.pruned(synthetic, Seq("g"),
      Seq("v" -> false, "id" -> true), 5, maxKeys = 1)
    // every true top-5 row must survive the lossy prune
    val top = windowTopK(synthetic, 5).select("id")
      .collect().map(_.getLong(0)).toSet
    val kept = surv.select("id").collect().map(_.getLong(0)).toSet
    assert(top.subsetOf(kept),
      s"overflow dropped true top rows: ${top -- kept}")
  }

  test("non-total order: boundary ties keep an exact order-value multiset; " +
      "row identity is the documented nondeterminism") {
    TopKPerKey.register(spark)
    // 300 rows tie at the k-boundary value 5; ordering on v ONLY is not a
    // total order, so WHICH tied id survives the per-partition prune is
    // unspecified (see the operator's ORDER CONTRACT scaladoc) — but the
    // top-k multiset of ORDER VALUES must still be exact.
    val ties = (0 until 300).map(i => ("g", 5, 1000L + i))
    val df = (ties ++ Seq(("g", 9, 1L), ("g", 8, 2L), ("g", 7, 3L)))
      .toDF("g", "v", "id").repartition(5)
    val got = TopKPerKey.topK(df, Seq("g"), Seq("v" -> false), 5)
    val vs = got.select("v").collect().map(_.getInt(0)).sorted.toSeq
    assert(vs == Seq(5, 5, 7, 8, 9),
      s"order-value multiset must be exact under ties, got $vs")
  }

  test("registered via GraftExtensions.register too") {
    GraftExtensions.register(spark)
    assert(spark.experimental.extraStrategies
      .contains(graft.plans.TopKStrategy))
  }

  test("topK plans on a session whose strategy was never registered") {
    // the builder of the node registers its planner: no caller has to
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_ == graft.plans.TopKStrategy)
    val got = TopKPerKey.topK(synthetic, Seq("g"),
      Seq("v" -> false, "id" -> true), 3)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = windowTopK(synthetic, 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
  }

  test("unknown column names fail loudly") {
    intercept[IllegalArgumentException] {
      TopKPerKey.pruned(synthetic, Seq("nope"), Seq("v" -> false), 3)
    }
  }
}
