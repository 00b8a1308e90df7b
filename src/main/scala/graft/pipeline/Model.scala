package graft.pipeline

import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

/** The reference model stage (/root/reference/Scripts/model.py) as a
  * parameterized MLlib pipeline builder.
  *
  * Reference bugs fixed, not reproduced (SURVEY.md §2.8): the assembled
  * feature list is de-duplicated (model.py:74-77 appends the lag columns a
  * second time, yielding a 24-slot vector with 3 duplicates), and
  * CrossValidator runs with parallelism > 1 (model.py fits 81 candidate
  * pipelines strictly sequentially). */
object Model {

  /** The (categorical columns, assembled feature list) split shared by the
    * Pipeline-building and direct-fit paths below. */
  private def featureLayout(df: DataFrame, labelCol: String,
      featureCols: Seq[String]): (Seq[String], Seq[String]) = {
    val distinctFeatures = featureCols.distinct.filter(_ != labelCol)
    val catCols = df.schema.fields
      .collect { case f if f.dataType == StringType => f.name }
      .filter(distinctFeatures.contains)
    val assembled = distinctFeatures
      .map(c => if (catCols.contains(c)) s"${c}_idx" else c)
    (catCols, assembled)
  }

  /** Fit a multi-column StringIndexerModel with ONE codegen'd DataFrame
    * aggregation instead of StringIndexer.fit's RDD treeAggregate
    * (optimization guide §1.2 per-task work / §2.3 aggregate-before-
    * shuffle): StringIndexer.fit deserializes every cached row out of the
    * columnar cache into external Rows to feed a JVM OpenHashMap
    * aggregator — measured 2.9 s of q40's 12 s board entry at sf0.1 on two
    * 1-of-3-valued columns. The posexplode+groupBy form stays inside
    * whole-stage codegen with map-side partial aggregation and collects
    * only the (column, value, count) triples (bounded by the value
    * domains). Label order replicates StringIndexer's frequencyDesc
    * contract exactly — count desc, tie broken by value asc
    * (StringIndexer.getSortFunc) over NON-NULL values per column — so the
    * returned model is bit-identical to StringIndexer.fit's, and it IS a
    * stock StringIndexerModel: same transform UDF, same ML persistence
    * (q152's save→load round-trip), pinned by ModelSpec against
    * StringIndexer.fit on a literal fixture. */
  private[graft] def fitIndexerModel(df: DataFrame,
      inCols: Seq[String]): StringIndexerModel = {
    import org.apache.spark.sql.functions._
    val counts = df
      .select(posexplode(array(
        inCols.map(c => col(c).cast(StringType)): _*)).as(Seq("ci", "v")))
      .filter(col("v").isNotNull)
      .groupBy(col("ci"), col("v")).agg(count(lit(1)).as("c"))
      .collect()
    val labels = Array.tabulate(inCols.length) { i =>
      counts.filter(_.getInt(0) == i)
        .map(r => (r.getString(1), r.getLong(2)))
        .sortBy { case (v, c) => (-c, v) }
        .map(_._1)
    }
    new StringIndexerModel(labels)
      .setInputCols(inCols.toArray)
      .setOutputCols(inCols.map(c => s"${c}_idx").toArray)
      .setHandleInvalid("keep")
  }

  /** The feature half of the reference pipeline (model.py:24-42): ONE
    * multi-column StringIndexer(handleInvalid=keep) over the string
    * features + a VectorAssembler, feature list dedup'd — the stages
    * [[pipeline]] puts in front of its RandomForestRegressor. */
  private def featureStages(df: DataFrame, labelCol: String,
      featureCols: Seq[String]): Array[org.apache.spark.ml.PipelineStage] = {
    val (catCols, assembled) = featureLayout(df, labelCol, featureCols)
    // ONE multi-column StringIndexer, not one per column: each single-column
    // fit is its own countByValue pass over the training data (measured 2.5s
    // per string column at sf0.1); the multi-column form builds every
    // value→index map in a single scan.
    val indexers =
      if (catCols.isEmpty) Array.empty[StringIndexer]
      else Array(new StringIndexer()
        .setInputCols(catCols.toArray)
        .setOutputCols(catCols.map(c => s"${c}_idx").toArray)
        .setHandleInvalid("keep"))
    val assembler = new VectorAssembler()
      .setInputCols(assembled.toArray).setOutputCol("features")
    (indexers :+ assembler).toArray[org.apache.spark.ml.PipelineStage]
  }

  /** One multi-column StringIndexer(handleInvalid=keep) over the string
    * features + VectorAssembler + seeded RandomForestRegressor
    * (model.py:24-42), feature list dedup'd. */
  def pipeline(df: DataFrame, labelCol: String, featureCols: Seq[String],
      numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L,
      maxBins: Int = 32, subsamplingRate: Double = 1.0): Pipeline = {
    val rf = new RandomForestRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
      .setMaxBins(maxBins).setSubsamplingRate(subsamplingRate)
    new Pipeline().setStages(featureStages(df, labelCol, featureCols) :+ rf)
  }

  /** 80/20 split + fit + score + r2/rmse (model.py:69-113), no grid.
    *
    * The feature stages (indexers + assembler) are fit once and their
    * OUTPUT is cached before the tree fit: MLlib's RF makes ~trees×depth
    * aggregation passes, and training through an uncached transform chain
    * re-runs every StringIndexer lookup per pass (measured 17s → 7s at
    * sf0.1). r2 and rmse come from ONE aggregation pass instead of two
    * evaluator jobs. The scored holdout is cached: the metrics pass
    * populates it and the caller's read hits it (without the cache the
    * whole featurize+score lineage runs twice). CONTRACT: the caller owns
    * the returned frame and should unpersist it when done
    * (Walmart.runModel does). */
  def fitPredict(df: DataFrame, labelCol: String, featureCols: Seq[String],
      numTrees: Int = 20, maxDepth: Int = 5, seed: Long = 42L,
      maxBins: Int = 32, subsamplingRate: Double = 1.0)
      : (Seq[Transformer], DataFrame, Double, Double) = {
    val rf = new RandomForestRegressor()
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
      .setMaxBins(maxBins).setSubsamplingRate(subsamplingRate)
    val Array(train, valid) = df.randomSplit(Array(0.8, 0.2), seed)
    val transformers = fitTransformers(train, labelCol, featureCols, rf)
    val scored = transformers.foldLeft(valid)((d, t) => t.transform(d)).cache()
    val (_, r2, rmse) = holdoutMetrics(scored, labelCol)
    (transformers, scored, r2, rmse)
  }

  /** The fit half of [[fitPredict]] and [[fitMetrics]]: featurize (cached,
    * right-sized — see below) + fit `regressor`, returning the fitted
    * transformer chain. q152, q153 and q293 use this alone (they need the
    * model, or score the holdout their own way). */
  def fitTransformers(train: DataFrame, labelCol: String,
      featureCols: Seq[String],
      regressor: org.apache.spark.ml.Predictor[org.apache.spark.ml.linalg.Vector, _, _])
      : Seq[Transformer] = {
    import org.apache.spark.sql.functions._
    // setters mutate and return `this`; calling them statement-wise keeps
    // the existential learner type out of the picture
    regressor.setLabelCol(labelCol)
    regressor.setFeaturesCol("features")
    // direct fitted-transformer construction (no Pipeline.fit wrapper):
    // the indexer model comes from the one-aggregation fitIndexerModel
    // above (bit-identical labels, stock StringIndexerModel) and
    // VectorAssembler is already a Transformer — nothing else needs a fit
    // pass over the data
    val (catCols, assembled) = featureLayout(train, labelCol, featureCols)
    val featModel: Seq[Transformer] =
      (if (catCols.isEmpty) Seq.empty[Transformer]
       else Seq(fitIndexerModel(train, catCols))) :+
        new VectorAssembler()
          .setInputCols(assembled.toArray).setOutputCol("features")
    // Right-size the fit input's partitioning: tree training makes
    // ~depth×nodeGroups aggregation passes, each paying per-task launch
    // overhead on every partition. Scale-proportional rule (partitions track
    // cores, not a constant — holds on a 1000-executor cluster): a quarter
    // of the session's cores is plenty for the iterative fit. coalesce (not
    // repartition) merges upstream into the same tasks — no shuffle, and the
    // cheap featurize map runs fine at the reduced width (measured faster:
    // task-launch overhead dominates it at this row size).
    val fitParts =
      math.max(2, train.sparkSession.sparkContext.defaultParallelism / 4)
    // coalesce BEFORE the cache, and hand the fit the cached frame
    // ITSELF: MLlib's tree learners check dataset.storageLevel and skip
    // their internal MEMORY_AND_DISK persist only when the exact input
    // frame is cached — a checkpointed or coalesced-view input reports
    // NONE and the learner re-materializes the whole vector frame a
    // second time. Round 18 measured the full-width-checkpoint variant
    // (featurize on every core, fit on a coalesced view): ~0.6 s better
    // at sf0.1, but q40 +17 s / q154 +18 s at sf1 from exactly that
    // double materialization — the narrow featurize is the right trade
    // at every scale that matters (BENCH_NOTES round 18).
    val trainFeat = featModel.foldLeft(train)((df, t) => t.transform(df))
      .select(col(labelCol), col("features")).coalesce(fitParts).cache()
    val regModel =
      try regressor.fit(trainFeat).asInstanceOf[Transformer]
      finally trainFeat.unpersist(blocking = false)
    featModel :+ regModel
  }

  /** [[fitPredict]]'s metrics on an EXPLICIT train/holdout pair with any
    * estimator, without materializing the scored frame: fit, then ONE
    * uncached column-pruned aggregation pass over the holdout computing
    * (n, r2, rmse) together. q40 and q154 (a GBTRegressor under the same
    * featurization) need exactly these scalars — caching the full scored
    * frame (every lineitem column plus the assembled VECTOR, an expensive
    * columnar-cache write) only to run a second count() job over it
    * measured 3.4 s + 0.5 s of q40's 12 s board entry at sf0.1 vs ~1 s for
    * this single pass (guide §5: cache only what is reused; §2.3 project
    * early — the agg reads two doubles per row). */
  def fitMetrics(
      train: DataFrame, valid: DataFrame, labelCol: String,
      featureCols: Seq[String],
      regressor: org.apache.spark.ml.Predictor[org.apache.spark.ml.linalg.Vector, _, _])
      : (Seq[Transformer], Long, Double, Double) = {
    val transformers = fitTransformers(train, labelCol, featureCols, regressor)
    val (n, r2, rmse) = holdoutMetrics(
      transformers.foldLeft(valid)((d, t) => t.transform(d)), labelCol)
    (transformers, n, r2, rmse)
  }

  /** (n, r2, rmse) of a scored holdout in ONE aggregation pass over the
    * label and prediction columns: r2 = 1 − SSR/SST with
    * SST = Σy² − (Σy)²/n. */
  private def holdoutMetrics(scored: DataFrame,
      labelCol: String): (Long, Double, Double) = {
    import org.apache.spark.sql.functions._
    val m = scored.select(col(labelCol), col("prediction"))
      .agg(
        count(lit(1)).as("n"),
        sum(pow(col(labelCol) - col("prediction"), 2)).as("ssr"),
        sum(pow(col(labelCol), 2)).as("yy"),
        sum(col(labelCol)).as("ysum")).head()
    val (n, ssr) = (m.getLong(0), m.getDouble(1))
    val sst = m.getDouble(2) - m.getDouble(3) * m.getDouble(3) / n
    (n, 1.0 - ssr / sst, math.sqrt(ssr / n))
  }

  /** Grid-search CV (model.py:89-107) with setParallelism — the reference's
    * 27-point grid (numTrees × maxDepth × minInstancesPerNode,
    * model.py:89-93) × 3 folds runs sequentially; we parallelize fits and
    * make the grid caller-sizable so the smoke budget stays bounded. The
    * reference-parity 3×3×3 grid is `referenceGrid`. */
  def crossValidator(df: DataFrame, labelCol: String, featureCols: Seq[String],
      numTreesGrid: Array[Int] = Array(10, 20),
      maxDepthGrid: Array[Int] = Array(3, 5),
      minInstancesGrid: Array[Int] = Array(1),
      folds: Int = 3, parallelism: Int = 4, seed: Long = 42L): CrossValidator = {
    val pipe = pipeline(df, labelCol, featureCols, seed = seed)
    val rf = pipe.getStages.last.asInstanceOf[RandomForestRegressor]
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, numTreesGrid)
      .addGrid(rf.maxDepth, maxDepthGrid)
      .addGrid(rf.minInstancesPerNode, minInstancesGrid)
      .build()
    new CrossValidator()
      .setEstimator(pipe)
      .setEvaluator(new RegressionEvaluator().setLabelCol(labelCol)
        .setPredictionCol("prediction").setMetricName("r2"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds)
      .setParallelism(parallelism)
      .setSeed(seed)
  }

  def crossValidate(df: DataFrame, labelCol: String, featureCols: Seq[String],
      numTreesGrid: Array[Int] = Array(10, 20),
      maxDepthGrid: Array[Int] = Array(3, 5),
      minInstancesGrid: Array[Int] = Array(1),
      folds: Int = 3, parallelism: Int = 4, seed: Long = 42L): CrossValidatorModel =
    crossValidator(df, labelCol, featureCols, numTreesGrid, maxDepthGrid,
      minInstancesGrid, folds, parallelism, seed).fit(df)

  /** The reference's exact 27-candidate grid (model.py:89-93):
    * numTrees × maxDepth × minInstancesPerNode, 3 values each. Exposed for
    * full-parity runs; the smoke-budget default above grids a subset. */
  val referenceGrid: (Array[Int], Array[Int], Array[Int]) =
    (Array(50, 100, 150), Array(5, 10, 15), Array(1, 2, 4))
}
