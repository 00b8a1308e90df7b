package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Reference-magnitude throughput check: synthesize a Walmart corpus at the
  * reference's scale (419,175 train rows vs its 421,570 — 45 stores ×
  * 81 depts × 115 weeks; 45 stores; 6,345 features rows spanning train +
  * test dates — BASELINE.md), run the full ETL → EDA → model DAG through
  * the same staged parquet handoffs as Walmart.run, and print one JSON
  * timing line per stage. The reference publishes no timings (BASELINE.md),
  * so this records OUR single-node number for the same workload shape.
  *
  *   sbt "runMain graft.pipeline.WalmartBench"
  */
object WalmartBench {

  def synthesize(dir: String): Unit = {
    val weeks = 115
    val dates = (0 until weeks).map(w =>
      java.time.LocalDate.of(2010, 2, 5).plusWeeks(w).toString)
    def holiday(w: Int) = w % 52 == 0 || w % 52 == 31
    val train = new StringBuilder("Store,Dept,Date,Weekly_Sales,IsHoliday\n")
    for (s <- 1 to 45; d <- 1 to 81; (dt, w) <- dates.zipWithIndex) {
      // deterministic sales: store/dept level + weekly seasonality
      val sales = 1000.0 + s * 37 + d * 11 + (w % 52) * 5 + (if (holiday(w)) 400 else 0)
      train.append(s).append(',').append(d).append(',').append(dt).append(',')
        .append(sales).append(',').append(holiday(w)).append('\n')
    }
    Files.write(Paths.get(dir, "train.csv"),
      train.toString.getBytes(StandardCharsets.UTF_8))
    val test = new StringBuilder("Store,Dept,Date,IsHoliday\n")
    val testDates = (weeks until weeks + 26).map(w =>
      java.time.LocalDate.of(2010, 2, 5).plusWeeks(w).toString)
    for (s <- 1 to 45; d <- 1 to 81; dt <- testDates.take(10))
      test.append(s).append(',').append(d).append(',').append(dt).append(",false\n")
    Files.write(Paths.get(dir, "test.csv"),
      test.toString.getBytes(StandardCharsets.UTF_8))
    val stores = ("Store,Type,Size" +: (1 to 45).map(s =>
      s"$s,${"ABC"((s - 1) % 3)},${100000 + s * 1731}")).mkString("\r") // CR endings
    Files.write(Paths.get(dir, "stores.csv"), stores.getBytes(StandardCharsets.UTF_8))
    val feat = new StringBuilder(
      "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3," +
        "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday\n")
    for (s <- 1 to 45; (dt, w) <- (dates ++ testDates).zipWithIndex) {
      val md = if (w < 60) "NA" else (50.0 + w).toString // "NA" era, like real data
      feat.append(s).append(',').append(dt).append(',')
        .append(30 + (w % 40)).append(',').append(2.5 + (w % 10) / 10.0).append(',')
        .append(md).append(",NA,NA,NA,").append(md).append(',')
        .append(210 + w * 0.01).append(',').append(8.0 - w * 0.005).append(',')
        .append(holiday(w)).append('\n')
    }
    Files.write(Paths.get(dir, "features.csv"),
      feat.toString.getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    // applicationId-keyed scratch (like q52/q81): fixed /tmp names would
    // race a concurrently running Verify/Bench JVM and accumulate forever
    val raw = graft.ops.Sources.scratchDir(spark, "walmart_ref_scale").toString
    val out = graft.ops.Sources.scratchDir(spark, "walmart_ref_out").toString
    val tGen = System.nanoTime()
    synthesize(raw)
    def time[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }
    val t0 = System.nanoTime()
    // the exact staged DAG users run, timed per stage — each stage reads
    // the previous stage's parquet, so timings are attributable
    val (_, etlSec) = time(Walmart.runEtl(spark, raw, out))
    val (_, edaSec) = time(Walmart.runEda(spark, out))
    val (_, modelSec) = time(Walmart.runModel(spark, out))
    val secs = (System.nanoTime() - t0) / 1e9
    val nTrain = spark.read.parquet(s"$out/merged_train.parquet").count()
    println(f"""{"metric":"walmart_ref_scale","total_sec":$secs%.2f,""" +
      f""""etl_sec":$etlSec%.2f,"eda_sec":$edaSec%.2f,"model_sec":$modelSec%.2f,""" +
      f""""gen_sec":${(t0 - tGen) / 1e9}%.2f,"train_rows":$nTrain}""")
    spark.stop()
  }
}
