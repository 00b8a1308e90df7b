package graft.ops

import graft.{GraftSession, Q, Tables}
import graft.pipeline.Walmart
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.Ckpt._

/** The reference's actual PRODUCT — the three-stage Airflow DAG
  * (`/root/reference/Scripts/airflow_dag.py:51`, `run_etl >> run_eda >>
  * run_model`) — exercised END TO END as one driver-checked query
  * (SURVEY.md §2.10 D1/D2). Every stage's operators are individually
  * oracle-checked elsewhere (q37/q38 imputation, q39 lags, q15 calendar,
  * q47 the CSV hazards, q40 the RF fit); what no other row covers is the
  * COMPOSITION: CSV ingest → ETL parquet handoff → EDA artifacts → model
  * artifacts, each stage reading the previous stage's files exactly as the
  * reference's inter-process contract does.
  *
  * The fixture corpus is generated by a closed-form rule (6 stores ×
  * 3 depts × 10 weekly dates; sales = 1000 + 37·store + 11·dept + 5·week
  * + a holiday spike), carrying both reference hazards — stores.csv with
  * bare-CR line endings, features.csv with "NA" sentinels — so the DuckDB
  * oracle can RECONSTRUCT the same corpus via generate_series and
  * independently recompute every ETL/EDA-stage statistic: row counts,
  * sales/lag/rolling-mean checksums (lag semantics re-derived with SQL
  * windows), the median-imputed MarkDown1 sum (median recomputed over the
  * reconstructed non-null multiset), calendar-feature checksums (the q15
  * dow convention), the EDA null-count and top-store rows. The model stage
  * is inherently not SQL-recomputable (a seeded RF fit); it is pinned by
  * properties folded into compose_ok — the validation split is non-empty
  * and proper, every validation/test prediction lands inside the label's
  * observed range (an RF regressor predicts leaf means, so an
  * out-of-range prediction means a broken pipeline), the test set scores
  * exactly store×dept×2 rows, and the ETL write really is partitioned by
  * Store (6 directories, never coalesce(1) — SURVEY.md §4.3).
  */
object Composition {

  private val Stores = 6
  private val Depts = 3
  private val TrainWeeks = 10
  private val TestWeeks = 2

  private def date(w: Int): String =
    java.time.LocalDate.of(2010, 2, 5).plusWeeks(w.toLong).toString

  private def sales(s: Int, d: Int, w: Int): Double =
    1000.0 + s * 37 + d * 11 + w * 5 + (if (w == 2) 400 else 0)

  /** Write the four raw CSVs. All numeric values are exactly representable
    * in binary floating point (quarters/eighths), so CSV-parse vs oracle
    * arithmetic cannot diverge by rounding. */
  private def writeFixture(rawDir: java.nio.file.Path): Unit = {
    def put(name: String, content: String): Unit =
      Files.write(rawDir.resolve(name), content.getBytes(StandardCharsets.UTF_8))
    val train = new StringBuilder("Store,Dept,Date,Weekly_Sales,IsHoliday\n")
    for (s <- 1 to Stores; d <- 1 to Depts; w <- 0 until TrainWeeks)
      train.append(s"$s,$d,${date(w)},${sales(s, d, w)},${w == 2}\n")
    put("train.csv", train.toString)
    val test = new StringBuilder("Store,Dept,Date,IsHoliday\n")
    for (s <- 1 to Stores; d <- 1 to Depts;
         w <- TrainWeeks until TrainWeeks + TestWeeks)
      test.append(s"$s,$d,${date(w)},false\n")
    put("test.csv", test.toString)
    // bare-CR endings: the stores.csv hazard (FIXTURES.md §A)
    put("stores.csv", ("Store,Type,Size" +: (1 to Stores).map(s =>
      s"$s,${"ABC"((s - 1) % 3)},${100000 + s * 1731}")).mkString("\r"))
    val feat = new StringBuilder(
      "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3," +
        "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday\n")
    for (s <- 1 to Stores; w <- 0 until TrainWeeks + TestWeeks) {
      val md1 = if (w < 5) "NA" else "100.5" // the "NA" sentinel hazard
      feat.append(s"$s,${date(w)},${30.0 + 2 * w},${2.5 + w * 0.25}," +
        s"$md1,NA,NA,NA,NA,${200.0 + w},${8.0 - w * 0.125},${w == 2}\n")
    }
    put("features.csv", feat.toString)
  }

  val queries: Seq[Q] = Seq(

    Q("q128_walmart_dag",
      s"""WITH t AS (
        |  SELECT s.store, dp.dept, w.w,
        |         DATE '2010-02-05' + CAST(w.w * 7 AS INT) AS dt,
        |         1000.0 + s.store*37 + dp.dept*11 + w.w*5
        |           + CASE WHEN w.w = 2 THEN 400 ELSE 0 END AS sales
        |  FROM (SELECT unnest(generate_series(1, $Stores)) AS store) s
        |  CROSS JOIN (SELECT unnest(generate_series(1, $Depts)) AS dept) dp
        |  CROSS JOIN (SELECT unnest(generate_series(0, ${TrainWeeks - 1})) AS w) w),
        |f AS (
        |  SELECT *,
        |         coalesce(lag(sales, 1) OVER pw, 0) AS lag1,
        |         coalesce(lag(sales, 4) OVER pw, 0) AS lag4,
        |         coalesce(avg(sales) OVER (PARTITION BY store, dept ORDER BY dt
        |             ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 0) AS roll4
        |  FROM t WINDOW pw AS (PARTITION BY store, dept ORDER BY dt)),
        |md AS (
        |  SELECT median(v) AS m
        |  FROM (SELECT CAST(100.5 AS DOUBLE) AS v FROM t WHERE w >= 5)),
        |agg AS (
        |  SELECT count(*) AS n_train,
        |         CAST(round(sum(sales), 2) AS DOUBLE) AS sum_sales,
        |         round(sum(CASE WHEN w >= 5 THEN 100.5
        |                        ELSE (SELECT m FROM md) END), 2) AS sum_md1,
        |         CAST(round(sum(lag1), 2) AS DOUBLE) AS sum_lag1,
        |         CAST(round(sum(lag4), 2) AS DOUBLE) AS sum_lag4,
        |         round(sum(roll4), 2) AS sum_roll4,
        |         CAST(sum(year(dt) + month(dt) + weekofyear(dt)
        |                  + dayofweek(dt) + 1) AS BIGINT) AS cal_checksum,
        |         count(*) AS n_null_md2
        |  FROM f),
        |top AS (
        |  SELECT CAST(store AS INT) AS top_store,
        |         round(avg(sales), 2) AS top_store_avg
        |  FROM t GROUP BY store ORDER BY avg(sales) DESC, store LIMIT 1)
        |SELECT agg.n_train, agg.sum_sales, agg.sum_md1, agg.sum_lag1,
        |       agg.sum_lag4, agg.sum_roll4, agg.cal_checksum, agg.n_null_md2,
        |       top.top_store, top.top_store_avg,
        |       CAST(${Stores * Depts * TestWeeks} AS BIGINT) AS n_test_scored,
        |       CAST(1 AS BOOLEAN) AS compose_ok
        |FROM agg CROSS JOIN top""".stripMargin) { (s, _) =>
      val raw = Sources.scratchDir(s, "graft_dag_raw")
      val out = Sources.scratchDir(s, "graft_dag_out")
      writeFixture(raw)
      // the composition under test: the reference's full DAG, each stage
      // re-reading the previous stage's parquet (never in-memory handoff).
      // Run at a width matched to the fixture (the DAG is ~60 tiny jobs;
      // at session width 32 the run is pure task-launch overhead): sizing
      // shuffle width to the data, not the core count, is the same lever a
      // 100 TB run pulls in the opposite direction.
      GraftSession.withConfs(s, "spark.sql.shuffle.partitions" -> "4") {
        Walmart.run(s, raw.toString, out.toString)
      }
      val mt = s.read.parquet(s"$out/merged_train.parquet")
      val etlAgg = mt.agg(
        count(lit(1)).as("n_train"),
        round(sum(col("Weekly_Sales")), 2).as("sum_sales"),
        round(sum(col("MarkDown1").cast("double")), 2).as("sum_md1"),
        round(sum(col("Weekly_Sales_lag1")), 2).as("sum_lag1"),
        round(sum(col("Weekly_Sales_lag4")), 2).as("sum_lag4"),
        round(sum(col("Weekly_Sales_roll4")), 2).as("sum_roll4"),
        sum(col("Year") + col("Month") + col("WeekOfYear") + col("DayOfWeek"))
          .cast("long").as("cal_checksum"),
        min(col("Weekly_Sales")).as("lbl_min"),
        max(col("Weekly_Sales")).as("lbl_max"))
      val nullMd2 = s.read.parquet(s"$out/eda_null_counts.parquet")
        .select(col("MarkDown2").cast("long").as("n_null_md2"))
      val top = s.read.parquet(s"$out/eda_top10_stores.parquet")
        .orderBy(desc("avg_Weekly_Sales"), asc("Store")).limit(1)
        .select(col("Store").as("top_store"),
          round(col("avg_Weekly_Sales"), 2).as("top_store_avg"))
      val vp = s.read.parquet(s"$out/validation_predictions.parquet")
      val valAgg = vp.agg(
        count(lit(1)).as("n_val"),
        min(col("prediction")).as("val_pred_min"),
        max(col("prediction")).as("val_pred_max"))
      val tp = s.read.parquet(s"$out/test_predictions.parquet")
      val testAgg = tp.agg(
        count(lit(1)).as("n_test_scored"),
        min(col("prediction")).as("test_pred_min"),
        max(col("prediction")).as("test_pred_max"))
      // the partitioned-write contract: Store=N directories, no coalesce(1)
      // (Using closes the directory stream — fd leak otherwise)
      val nPartDirs = scala.util.Using.resource(
        Files.list(Paths.get(s"$out/merged_train.parquet"))) { st =>
        st.filter(p => p.getFileName.toString.startsWith("Store="))
          .count()
      }
      etlAgg.crossJoin(nullMd2).crossJoin(top)
        .crossJoin(valAgg).crossJoin(testAgg)
        .select(
          col("n_train"), col("sum_sales"), col("sum_md1"), col("sum_lag1"),
          col("sum_lag4"), col("sum_roll4"), col("cal_checksum"),
          col("n_null_md2"), col("top_store"), col("top_store_avg"),
          col("n_test_scored"),
          (lit(nPartDirs) === Stores &&
            col("n_val") > 0 && col("n_val") < col("n_train") &&
            col("val_pred_min") >= col("lbl_min") &&
            col("val_pred_max") <= col("lbl_max") &&
            col("test_pred_min") >= col("lbl_min") &&
            col("test_pred_max") <= col("lbl_max")).as("compose_ok"))
    },

    // The LLM-corpus curation DAG — q128's counterpart for the text side:
    // language filter → quality gate → exact dedup (keep-first) →
    // temperature-smoothed source mix (q174's α=½ rates, derived from the
    // DEDUPED corpus — rates must follow the pipeline, not precede it),
    // composed as ONE lineage with a per-stage funnel report. Scale
    // shape: text bytes are touched once (the md5 digest is computed in
    // the same projection that feeds every stage); the dedup keep-rule is
    // a digest-keyed min-join (text never shuffles); the mix thresholds
    // broadcast back. The funnel row per stage (count + exact char mass)
    // is what a data-curation run actually publishes.
    Q("q200_corpus_pipeline",
      """WITH s2 AS (
        |  SELECT doc_id, source, n_chars, md5(text) AS h
        |  FROM documents WHERE lang = 'en' AND n_chars BETWEEN 100 AND 500),
        |s3 AS (
        |  SELECT s2.doc_id, s2.source, s2.n_chars FROM s2
        |  JOIN (SELECT h, min(doc_id) AS keep FROM s2 GROUP BY 1) k
        |    ON s2.h = k.h AND s2.doc_id = k.keep),
        |c AS (SELECT source, count(*) AS n_s FROM s3 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all,
        |             sum(sqrt(CAST(n_s AS DOUBLE))) AS sum_w FROM c),
        |r AS (
        |  SELECT source,
        |         CAST(floor(least(1.0,
        |                0.5 * n_all * sqrt(CAST(n_s AS DOUBLE))
        |                  / (sum_w * n_s)) * 65536) AS INT) AS thr
        |  FROM c, t),
        |s4 AS (
        |  SELECT s3.* FROM s3 JOIN r ON s3.source = r.source
        |  WHERE substr(md5(CAST(s3.doc_id AS VARCHAR)), 1, 4)
        |        < printf('%04x', r.thr)),
        |f AS (
        |  SELECT '0_all' AS stage, count(*) AS n, sum(n_chars) AS sc
        |  FROM documents
        |  UNION ALL SELECT '1_lang', count(*), sum(n_chars)
        |            FROM documents WHERE lang = 'en'
        |  UNION ALL SELECT '2_quality', count(*), sum(n_chars) FROM s2
        |  UNION ALL SELECT '3_dedup', count(*), sum(n_chars) FROM s3
        |  UNION ALL SELECT '4_mix', count(*), sum(n_chars) FROM s4)
        |SELECT stage, CAST(n AS BIGINT) AS n_docs,
        |       CAST(coalesce(sc, 0) AS BIGINT) AS sum_chars
        |FROM f ORDER BY stage""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val s1 = docs.filter(col("lang") === "en")
      val s2 = s1.filter(col("n_chars").between(100, 500))
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text").cast("binary")).as("h"))
        // ckpt(a): q200 dedup + funnel; lazy 1.3× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val keep = s2.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))
      val s3 = s2.join(keep, "h").filter(col("doc_id") === col("keep"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        // ckpt(a): q200 mix rates, filter + funnel; lazy 1.3× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val counts = s3.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val tot = counts.agg(sum(col("n_s")).cast("long").as("n_all"),
        sum(sqrt(col("n_s").cast("double"))).as("sum_w"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("source"),
          floor(least(lit(1.0),
            lit(0.5) * col("n_all") * sqrt(col("n_s").cast("double"))
              / (col("sum_w") * col("n_s"))) * 65536).cast("int").as("thr"))
      val s4 = s3.join(broadcast(rates), "source")
        .filter(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 4) < format_string("%04x", col("thr")))
      def funnel(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).cast("long")
            .as("sum_chars"))
          .select(lit(name).as("stage"), col("n_docs"), col("sum_chars"))
      funnel("0_all", docs)
        .unionByName(funnel("1_lang", s1))
        .unionByName(funnel("2_quality", s2))
        .unionByName(funnel("3_dedup", s3))
        .unionByName(funnel("4_mix", s4))
        .orderBy(col("stage"))
    }
  )
}
