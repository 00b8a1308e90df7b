package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's full three-stage workload (SURVEY.md §3, §2.10:
  * airflow_dag.py `run_etl >> run_eda >> run_model`) as one Scala call
  * graph over the Walmart schemas (FIXTURES.md §A). A user of the reference
  * runs `Walmart.run(spark, rawDir, outDir)` and gets the same artifacts —
  * merged parquet, EDA stat tables, validation predictions — with the
  * reference's pessimizations deliberately absent (SURVEY.md §4):
  * explicit schemas instead of inferSchema, one cached imputation pass
  * instead of 11 re-materializations, distributed stats instead of
  * toPandas, partitioned writes instead of coalesce(1).
  */
object Walmart {

  // Explicit StructTypes (etl.py:86-89 infers; deterministic > inference
  // at scale). MarkDown/CPI/Unemployment read as STRING: they carry the
  // literal "NA" sentinel (features.csv, etl.py:96-106).
  val trainSchema: StructType = StructType(Seq(
    StructField("Store", IntegerType), StructField("Dept", IntegerType),
    StructField("Date", DateType), StructField("Weekly_Sales", DoubleType),
    StructField("IsHoliday", BooleanType)))

  val testSchema: StructType = StructType(Seq(
    StructField("Store", IntegerType), StructField("Dept", IntegerType),
    StructField("Date", DateType), StructField("IsHoliday", BooleanType)))

  val storesSchema: StructType = StructType(Seq(
    StructField("Store", IntegerType), StructField("Type", StringType),
    StructField("Size", IntegerType)))

  val featuresSchema: StructType = StructType(
    Seq(StructField("Store", IntegerType), StructField("Date", DateType),
      StructField("Temperature", DoubleType), StructField("Fuel_Price", DoubleType)) ++
    (1 to 5).map(i => StructField(s"MarkDown$i", StringType)) ++
    Seq(StructField("CPI", StringType), StructField("Unemployment", StringType),
      StructField("IsHoliday", BooleanType)))

  private val naCols = (1 to 5).map(i => s"MarkDown$i") ++ Seq("CPI", "Unemployment")

  /** CSV reader tolerating the reference corpus's hazards: explicit schema,
    * PERMISSIVE mode, and bare-CR line endings (stores.csv — pass
    * lineSep="\r" via `options`). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .options(options).schema(schema).csv(path)

  /** ETL (etl.py:71-134): repair → join → impute → label filter → calendar
    * + lag features. Returns (train, test). */
  def etl(train: DataFrame, test: DataFrame, stores: DataFrame,
      features: DataFrame): (DataFrame, DataFrame) = {
    // "NA" → null → float (etl.py:96-106), then drop features.IsHoliday
    // pre-join so train's copy stays unambiguous (etl.py:108-109)
    val feat = Etl.naRepair(features, naCols).drop("IsHoliday")

    def merge(base: DataFrame): DataFrame = {
      val joined = Etl.joinAll(base, stores, Seq("Store"), feat, Seq("Store", "Date"))
      // ONE cached materialization feeds every imputation statistic
      // (etl.py:17-32 recomputes the 2-join plan per column — 11×)
      joined.cache()
      try {
        // the reference's full lists (etl.py:38-40): medians also cover
        // Fuel_Price/Temperature (null on a features-join miss), modes also
        // cover IsHoliday — an unimputed null IsHoliday would reach
        // VectorAssembler (handleInvalid=error) and throw at the model stage
        val numeric = (naCols ++ Seq("Fuel_Price", "Temperature"))
          .filter(c => joined.columns.contains(c))
        val imputed = Etl.impute(joined, numeric, Seq("IsHoliday", "Type"))
        Etl.dateFeatures(imputed, "Date")
      } finally joined.unpersist(blocking = false)
    }

    // the train-side and test-side merges are independent lineages whose
    // imputation statistics are driver actions — overlap the two sides
    // (guide §2.6) so one side's statistics job back-fills the other's;
    // each returned frame is identical to the serial build
    val Seq(mergedTrain, mergedTest) = graft.Par.run(Seq(
      () => merge(train.na.drop(Seq("Weekly_Sales"))),
      () => merge(test)))
    val withLags = Etl.lagFeatures(mergedTrain, Seq("Store", "Dept"), "Date",
      "Weekly_Sales", tieBreak = Nil)
    (withLags, mergedTest)
  }

  /** EDA (eda.py): every stat the reference computes in pandas, as named
    * distributed DataFrames (plots are presentation, not computation).
    * Returned LAZILY (round 18): quartiles/outliers run their
    * exact-quantile jobs at DataFrame-construction time, so building the
    * list eagerly would serialize work runEda's overlap exists to hide.
    * The two share one sort: the lazy val computes the quartiles once, and
    * a second Par.run thread waits for it instead of sorting again. */
  def eda(train: DataFrame): Seq[(String, () => DataFrame)] = {
    lazy val q = Eda.exactQuantiles(train, "Weekly_Sales", Seq(0.25, 0.50, 0.75))
    Seq(
      "null_counts" -> (() => Eda.nullCounts(train)),
      "describe" -> (() => Eda.describe(train,
        Seq("Weekly_Sales", "Temperature", "Fuel_Price"))),
      "quartiles" -> (() => Eda.quartiles(train.sparkSession, q)),
      "outliers" -> (() => Eda.iqrOutliers(train, "Weekly_Sales", q(0), q(2))),
      "corr_vs_label" -> (() => Eda.corrVsLabel(train, "Weekly_Sales")),
      "top10_stores" -> (() => Eda.groupTopK(train, "Store", "Weekly_Sales", 10)))
  }

  /** Model (model.py): RF pipeline on the merged train set; lag columns are
    * backfilled with 0 on test (model.py:126). Returns (validation scored,
    * test scored, r2, rmse). */
  def model(train: DataFrame, test: DataFrame,
      numTrees: Int = 20, maxDepth: Int = 5)
      : (DataFrame, DataFrame, Double, Double) = {
    val label = "Weekly_Sales"
    val featureCols = train.schema.fields.collect {
      case f if f.name != label && f.name != "Date" &&
        (f.dataType.isInstanceOf[NumericType] || f.dataType == BooleanType ||
          f.dataType == StringType) => f.name
    }.toSeq
    // A column that is all-"NA" has no median to impute from (etl.py's
    // fillna silently leaves it null, which would crash VectorAssembler);
    // zero-fill the numeric features as the deterministic fallback.
    val numericFeatures = train.schema.fields.collect {
      case f if featureCols.contains(f.name) && f.dataType.isInstanceOf[NumericType] =>
        f.name
    }.toSeq
    val trainReady = train.na.fill(0.0, numericFeatures)
    val (transformers, scored, r2, rmse) =
      Model.fitPredict(trainReady, label, featureCols, numTrees, maxDepth)
    val lagCols = Seq("Weekly_Sales_lag1", "Weekly_Sales_lag4", "Weekly_Sales_roll4")
    val testReady = lagCols.foldLeft(test)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(0.0)))
      .na.fill(0.0, numericFeatures.filter(test.columns.contains))
    val testScored = transformers.foldLeft(testReady)((d, t) => t.transform(d))
    (scored, testScored, r2, rmse)
  }

  /** Stage 1 — ETL (run_etl): CSV ingest → merged parquet, partitioned by
    * Store (the natural pruning key), never coalesce(1). */
  def runEtl(spark: SparkSession, rawDir: String, outDir: String): Unit = {
    val train = readCsv(spark, s"$rawDir/train.csv", trainSchema)
    val test = readCsv(spark, s"$rawDir/test.csv", testSchema)
    val stores = readCsv(spark, s"$rawDir/stores.csv", storesSchema,
      Map("lineSep" -> "\r"))
    val features = readCsv(spark, s"$rawDir/features.csv", featuresSchema)
    val (mergedTrain, mergedTest) = etl(train, test, stores, features)
    // the two merged writes are independent lineages (train-side lags vs
    // the bare test merge) — overlap them (optimization guide §2.6, the
    // q153/q158 Par.run pattern) so one write's straggler tail back-fills
    // with the other's tasks; artifacts are identical either way
    graft.Par.run(Seq(
      () => mergedTrain.write.mode("overwrite").partitionBy("Store")
        .parquet(s"$outDir/merged_train.parquet"),
      () => mergedTest.write.mode("overwrite").partitionBy("Store")
        .parquet(s"$outDir/merged_test.parquet")))
  }

  /** Stage 2 — EDA (run_eda): reads the merged parquet back (the same
    * parquet handoff the reference's DAG uses between processes). */
  def runEda(spark: SparkSession, outDir: String): Unit = {
    val mergedTrain = spark.read.parquet(s"$outDir/merged_train.parquet")
    // the six stat tables are independent reads of the same parquet —
    // overlap them (guide §2.6) instead of serializing six small job
    // chains; each artifact is byte-identical to the serial run
    graft.Par.run(eda(mergedTrain).map { case (name, mk) => () =>
      mk().write.mode("overwrite").parquet(s"$outDir/eda_$name.parquet")
    })
  }

  /** Stage 3 — model (run_model): parquet in, predictions out. */
  def runModel(spark: SparkSession, outDir: String): Unit = {
    val mergedTrain = spark.read.parquet(s"$outDir/merged_train.parquet")
    val mergedTest = spark.read.parquet(s"$outDir/merged_test.parquet")
    val (valScored, testScored, _, _) = model(mergedTrain, mergedTest)
    // both prediction writes score through the SAME fitted chain and are
    // otherwise independent — overlap them (guide §2.6)
    graft.Par.run(Seq(
      () => valScored.select("Store", "Dept", "Date", "Weekly_Sales",
          "prediction")
        .write.mode("overwrite")
        .parquet(s"$outDir/validation_predictions.parquet"),
      () => testScored.select("Store", "Dept", "Date", "prediction")
        .write.mode("overwrite").parquet(s"$outDir/test_predictions.parquet")))
    valScored.unpersist(blocking = false) // fitPredict caches it; stage done
  }

  /** The DAG (airflow_dag.py:51 `run_etl >> run_eda >> run_model`) as a
    * sequential call graph with parquet handoffs between stages — exactly
    * the reference's inter-process contract (SURVEY.md §2.10 D1/D2). */
  def run(spark: SparkSession, rawDir: String, outDir: String): Unit = {
    runEtl(spark, rawDir, outDir)
    runEda(spark, outDir)
    runModel(spark, outDir)
  }
}
