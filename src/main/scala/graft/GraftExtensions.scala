package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{BpeSymbolSum, CosineSim, DotProduct, HyperplaneBands, JaroWinklerSim, QuantizedDot, SimHash64, Winnow, WordShingles}

/** SparkSessionExtensions injector exposing the custom Catalyst expressions
  * (SURVEY.md §8 "custom Catalyst surface") as first-class SQL functions, so
  * `spark.sql` users get the same codegen'd kernels the Column API uses:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   spark.sql("SELECT graft_dot(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * Registered functions (arguments after the column must be int literals —
  * they parameterize codegen and cannot vary per row):
  *  - `graft_dot(array, array): double`
  *  - `graft_cosine(array, array): double`
  *  - `graft_simhash64(array<string>): bigint`
  *  - `graft_winnow(text, k, w): array<bigint>`
  *  - `graft_word_shingles(text, n): array<string>`
  *  - `graft_hyperplane_bands(array, bands, bits, dim): array<bigint>`
  *  - `graft_jaro_winkler(string, string): double`
  *  - `graft_qdot(array<tinyint>, array<tinyint>): bigint`
  *  - `graft_bpe_symsum(array<string>, array<string>): bigint` (second
  *    argument: FOLDABLE flattened merge pairs `[l1, r1, l2, r2, …]`)
  *
  * Beyond functions, the injector also installs the whole-plan surface:
  * the [[graft.plans.BoundLevenshtein]] optimizer rule and the
  * [[graft.plans.TopKStrategy]] planner strategy (Spark's own grouped
  * `row_number` `WindowGroupLimit`, its partial planned as a per-key heap
  * instead of a partition sort).
  *
  * For sessions built without the conf, [[GraftExtensions.register]] installs
  * the same functions on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(ext.injectFunction)
    // NOTE deliberately absent: honest checkpoint statistics
    // (graft.plans.HonestRddStats) CANNOT be an injected optimizer rule —
    // LogicalRDD's equality excludes its curried originStats, so
    // mapChildren discards a stats-only leaf swap; the fix runs at
    // checkpoint time instead (graft.Ckpt)
    // whole-plan rewrites (the (c) tier of the extension ladder): bounded
    // edit-distance predicates — see graft.plans.BoundLevenshtein
    ext.injectOptimizerRule(_ => graft.plans.BoundLevenshtein)
    // stats-driven choice between exact-equivalent kernel plans — see
    // graft.plans.AdaptivePlan
    ext.injectOptimizerRule(_ => graft.plans.AdaptivePlanRule)
    // grouped row_number top-k: the partial runs as per-key heaps — see
    // graft.plans.TopKStrategy
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {

  private def intLit(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be an integer literal, got $other")
  }

  private def arity(fn: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")
    args
  }

  private def info(fn: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, fn)

  /** (identifier, info, builder) triples — the injectFunction contract. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"), info("graft_dot", classOf[DotProduct]),
      args => { val a = arity("graft_dot", 2)(args); DotProduct(a(0), a(1)) }),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", classOf[CosineSim]),
      args => { val a = arity("graft_cosine", 2)(args); CosineSim(a(0), a(1)) }),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", classOf[SimHash64]),
      args => SimHash64(arity("graft_simhash64", 1)(args).head)),
    (FunctionIdentifier("graft_winnow"), info("graft_winnow", classOf[Winnow]),
      args => { val a = arity("graft_winnow", 3)(args)
        Winnow(a(0), intLit("graft_winnow", "k")(a(1)),
          intLit("graft_winnow", "w")(a(2))) }),
    (FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles", classOf[WordShingles]),
      args => { val a = arity("graft_word_shingles", 2)(args)
        WordShingles(a(0), intLit("graft_word_shingles", "n")(a(1))) }),
    (FunctionIdentifier("graft_hyperplane_bands"),
      info("graft_hyperplane_bands", classOf[HyperplaneBands]),
      args => { val a = arity("graft_hyperplane_bands", 4)(args)
        HyperplaneBands(a(0),
          intLit("graft_hyperplane_bands", "bands")(a(1)),
          intLit("graft_hyperplane_bands", "bits")(a(2)),
          intLit("graft_hyperplane_bands", "dim")(a(3))) }),
    (FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler", classOf[JaroWinklerSim]),
      args => { val a = arity("graft_jaro_winkler", 2)(args)
        JaroWinklerSim(a(0), a(1)) }),
    (FunctionIdentifier("graft_qdot"),
      info("graft_qdot", classOf[QuantizedDot]),
      args => { val a = arity("graft_qdot", 2)(args)
        QuantizedDot(a(0), a(1)) }),
    (FunctionIdentifier("graft_bpe_symsum"),
      info("graft_bpe_symsum", classOf[BpeSymbolSum]),
      args => { val a = arity("graft_bpe_symsum", 2)(args)
        BpeSymbolSum(a(0), a(1)) }))

  /** Install the functions on an already-built session (the path for users
    * who didn't set `spark.sql.extensions`). Idempotent. */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, inf, builder) =>
      GraftSql.registerFunction(spark, id, inf, builder)
    }
    // live-session counterpart of injectOptimizerRule (idempotent append)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BoundLevenshtein))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BoundLevenshtein
    graft.plans.AdaptivePlan.register(spark)
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
  }
}
