package graft

import graft.pipeline.{Eda, Model}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.tuning.CrossValidatorModel
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class MlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val synth = {
    // y = 3x + noise-free deterministic offset; rf should track it closely
    val rows = (1 to 400).map(i => (i % 20 + 1.0, (i % 7).toDouble, 3.0 * (i % 20 + 1) + (i % 7)))
    rows.toDF("x1", "x2", "y").cache()
  }

  test("fitPredict learns a deterministic signal (r2 high, rmse low)") {
    val (_, scored, r2, rmse) = Model.fitPredict(synth, "y", Seq("x1", "x2"),
      numTrees = 10, maxDepth = 5)
    assert(scored.columns.contains("prediction"))
    assert(r2 > 0.95, s"r2 was $r2")
    assert(rmse < 3.0, s"rmse was $rmse")
  }

  test("crossValidate (M5-M7): grid search picks a model, parallel fits") {
    val cv: CrossValidatorModel = Model.crossValidate(synth, "y", Seq("x1", "x2"),
      numTreesGrid = Array(5, 10), maxDepthGrid = Array(3, 5),
      minInstancesGrid = Array(1, 2),
      folds = 2, parallelism = 4)
    assert(cv.avgMetrics.length == 8) // 2x2x2 grid
    assert(cv.avgMetrics.max > 0.9)  // best r2 on an exact signal
    val scored = cv.transform(synth)
    assert(scored.select(avg(abs(col("prediction") - col("y")))).head().getDouble(0) < 3.0)
  }

  test("M5 reference-grid parity: 27 candidates over all three dimensions") {
    // grid parity is a configuration contract — assert it on the unfit
    // estimator (the 81-fit full run is a cluster job, not a smoke test)
    val (nt, md, mi) = Model.referenceGrid
    val est = Model.crossValidator(synth, "y", Seq("x1", "x2"),
      numTreesGrid = nt, maxDepthGrid = md, minInstancesGrid = mi)
    val maps = est.getEstimatorParamMaps
    assert(maps.length == 27, s"grid has ${maps.length} candidates, want 27")
    // all three reference dimensions must vary (model.py:89-93)
    def distinctVals(name: String) =
      maps.map(m => m.toSeq.find(_.param.name == name).get.value).distinct.length
    assert(distinctVals("numTrees") == 3)
    assert(distinctVals("maxDepth") == 3)
    assert(distinctVals("minInstancesPerNode") == 3)
  }

  test("fitIndexerModel: bit-identical labels to StringIndexer.fit " +
    "(round 18 codegen indexer fit)") {
    // the one-aggregation indexer fit must replicate StringIndexer's
    // frequencyDesc contract exactly: count desc, ties broken by value
    // asc, nulls skipped per column — on a fixture with a frequency tie
    // ("b"/"c" both ×2 in c1), a null, and a second column whose order
    // differs from the first's
    val df = Seq(
      (Some("b"), "Y"), (Some("b"), "Y"), (Some("c"), "Y"),
      (Some("c"), "Z"), (Some("a"), "Z"), (Some("a"), "Z"),
      (Some("a"), "X"), (None, "X")).toDF("c1", "c2")
    val viaSpark = new org.apache.spark.ml.feature.StringIndexer()
      .setInputCols(Array("c1", "c2")).setOutputCols(Array("c1_idx", "c2_idx"))
      .setHandleInvalid("keep").fit(df)
    val viaAgg = Model.fitIndexerModel(df, Seq("c1", "c2"))
    assert(viaAgg.labelsArray.map(_.toSeq).toSeq ==
      viaSpark.labelsArray.map(_.toSeq).toSeq,
      s"agg ${viaAgg.labelsArray.map(_.mkString(",")).mkString(" | ")} != " +
        s"spark ${viaSpark.labelsArray.map(_.mkString(",")).mkString(" | ")}")
    // and the transform output (the thing the fits consume) matches too
    val a = viaAgg.transform(df).select("c1_idx", "c2_idx").collect()
      .map(_.toSeq).toSeq
    val b = viaSpark.transform(df).select("c1_idx", "c2_idx").collect()
      .map(_.toSeq).toSeq
    assert(a == b)
  }

  test("model persistence (S5): save + load round-trips predictions") {
    val cv = Model.crossValidate(synth, "y", Seq("x1", "x2"),
      numTreesGrid = Array(5), maxDepthGrid = Array(3), folds = 2)
    val dir = Files.createTempDirectory("graft_model_").toString + "/rf"
    cv.bestModel.asInstanceOf[PipelineModel].write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val before = cv.bestModel.transform(synth).select("prediction")
      .collect().map(_.getDouble(0))
    val after = loaded.transform(synth).select("prediction")
      .collect().map(_.getDouble(0))
    assert(before.sameElements(after))
  }

  test("exactQuantiles matches the built-in exact percentile aggregate") {
    val df = (1 to 1001).map(i => ((i * 7919) % 1001).toDouble).toDF("v")
    val got = Eda.exactQuantiles(df, "v", Seq(0.25, 0.5, 0.75, 0.9))
    val want = df.agg(expr("percentile(v, array(0.25, 0.5, 0.75, 0.9))"))
      .head().getSeq[Double](0)
    assert(got == want.toSeq)
  }

  test("exactQuantiles interpolates between ranks like quantile_cont") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    // p=0.5 over n=4: rank 1.5 -> 2 + 0.5*(3-2) = 2.5
    assert(Eda.exactQuantiles(df, "v", Seq(0.5)) == Seq(2.5))
    assert(Eda.exactQuantiles(df, "v", Seq(0.0, 1.0)) == Seq(1.0, 4.0))
  }

  test("exactQuantiles memo sees through an in-place input regeneration") {
    // two generations of the same path (test corpora get regenerated in
    // place) must give two answers: nothing carries a quantile over from
    // the first read of the path to the second
    val dir = java.nio.file.Files.createTempDirectory("graft_memo").toString
    try {
      (1 to 100).map(_.toDouble).toDF("v")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val before = Eda.exactQuantiles(spark.read.parquet(dir), "v", Seq(0.5))
      assert(before == Seq(50.5))
      (1 to 200).map(_.toDouble).toDF("v")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val after = Eda.exactQuantiles(spark.read.parquet(dir), "v", Seq(0.5))
      assert(after == Seq(100.5),
        s"stale quantile served after input regeneration: $after")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("aft survival: subject accounting matches the KM framing") {
    val r = graft.SparkEntry.queries("q234_aft_survival")(spark, sf0001)
      .head()
    // subjects = customers with ≥ 2 distinct order dates (duration > 0)
    val expected = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderdate").cast("date")).as("nd"))
      .filter(col("nd") >= 2).count()
    assert(r.getAs[Long]("n_subjects") == expected)
    assert(r.getAs[Long]("n_events") <= r.getAs[Long]("n_subjects"))
    assert(r.getAs[Boolean]("scale_ok") && r.getAs[Boolean]("quantiles_ok"))
  }

  test("conformal interval: split closes on the corpus and coverage holds") {
    val r = graft.SparkEntry.queries("q293_conformal_interval")(spark, sf0001)
      .head()
    val total = Tables.lineitem(spark, sf0001).count()
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_cal") +
      r.getAs[Long]("n_test") == total,
      "md5 split must partition lineitem exactly")
    // 13/16 ~ 81% train, 2/16 cal, 1/16 test — binomial bands at sf0.001
    assert(r.getAs[Long]("n_train") > total * 0.7)
    assert(r.getAs[Long]("n_cal") > 0 && r.getAs[Long]("n_test") > 0)
    assert(r.getAs[Double]("alpha") == 0.1)
    assert(r.getAs[Boolean]("qhat_pos_ok"),
      "conformal quantile must be positive and finite")
    assert(r.getAs[Boolean]("coverage_ok"),
      "test coverage left the [0.84, 0.98] band around 1 - alpha")
  }

  test("Ml.fittedMemo is process-local: heap entries only, nothing written to disk") {
    import java.nio.file.{FileVisitResult, Path, Paths, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    // every regular file under `root`; vanished/unreadable entries (other
    // processes share the temp dir) are skipped, not fatal
    def files(root: Path): Set[Path] = {
      val out = Set.newBuilder[Path]
      if (Files.isDirectory(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes) = {
          if (a.isRegularFile) out += f
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          FileVisitResult.CONTINUE
      })
      out.result()
    }
    val warehouse = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    // Spark's local-dir resolution order for a local-mode driver
    val localRoots = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .split(",").toSeq.map(Paths.get(_))
    def snapshot() = (files(warehouse), localRoots.flatMap(files).toSet)

    graft.ops.Ml.fittedMemo.clear()
    val (wh0, local0) = snapshot()
    SparkEntry.queries("q40_rf_regression")(spark, sf0001).collect()
    val (wh1, local1) = snapshot()

    // in-heap: exactly q40's entry, keyed by corpus dir + input signature,
    // holding the live fitted chain (no path, no reload)
    val key = (sf0001, graft.ops.Ml.inputSignature(Tables.lineitem(spark, sf0001)))
    assert(graft.ops.Ml.fittedMemo.keySet == Set(key))
    assert(graft.ops.Ml.fittedMemo(key).isInstanceOf[PipelineModel])
    // nothing persisted: the warehouse gains no file, and no ML persistence
    // layout (metadata/, stages/) appears under the local dirs — shuffle
    // and block files from the fit itself are expected there
    assert(wh1 == wh0, s"warehouse gained files: ${(wh1 -- wh0).take(5)}")
    val persisted = (local1 -- local0).filter(p =>
      p.iterator.asScala.exists(seg => seg.toString == "metadata" || seg.toString == "stages"))
    assert(persisted.isEmpty, s"model files written under local dirs: ${persisted.take(5)}")
    graft.ops.Ml.fittedMemo.clear()
  }
}
