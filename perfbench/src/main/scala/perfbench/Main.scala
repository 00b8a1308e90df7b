package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The benchmark's JVM side: one fresh JVM per run. It sets the session up
  * (timed once), runs closed-loop passes over one workload's
  * operations and writes every measurement to a JSON file; `run.py`
  * launches it, checks the outputs and reduces the file to metrics.
  *
  *   java -cp <classpath> perfbench.Main --kind queries --sf 0.01 \
  *     --ops perfbench/workloads/tail_sf0.01.txt --seed 1 --seconds 20 \
  *     --trace 0 --cores 4 --corpus-cache .perfbench/corpus/x \
  *     --work .perfbench/run --out .perfbench/run/result.json
  *
  * `--kind walmart` runs the Walmart DAG at [[Corpus.WalmartStores]] stores
  * (no `--sf`, `--ops` or `--corpus-cache`). `--kind size` runs every
  * registry query once, in name order, at `--sf` (the sizing pass behind
  * the committed workload split; no `--ops`). */
object Main {

  final case class Op(name: String, run: (SparkSession, String) => Unit)

  /** Order-independent digest of a frame's rows: the sum of each row's
    * xxhash64 as an exact decimal, so equal multisets of rows give equal
    * digests in any order. Map-typed columns (which xxhash64 rejects) are
    * hashed through their JSON rendering. Columns are addressed by
    * position, so duplicate output names are fine. */
  def digestColumn(schema: StructType): Column = {
    val cols = schema.fields.indices.map { i =>
      val c = col(s"_c$i")
      if (hasMap(schema.fields(i).dataType))
        to_json(struct(c)) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    sum(h.cast("decimal(20,0)")).cast("decimal(38,0)")
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  private val observations = new java.util.concurrent.atomic.AtomicLong

  def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"_c$i"): _*)

  /** Rows and digest of `df`, observed inside the same noop-sink execution
    * that the sink timer measures. */
  def sinkObserved(df: DataFrame): (Long, String) = {
    val d = positional(df)
    val obs = Observation(s"perfbench_digest_${observations.incrementAndGet()}")
    d.observe(obs, count(lit(1)).as("rows"), digestColumn(d.schema).as("digest"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      Option(m("digest")).map(_.toString).getOrElse("0"))
  }

  private def opt(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def arg(k: String) = opt(args, k).getOrElse(sys.error(s"missing $k"))
    val kind = arg("--kind")
    val work = Paths.get(arg("--work")).toAbsolutePath
    val out = Paths.get(arg("--out"))
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val traced = arg("--trace") == "1"
    val cores = arg("--cores").toInt
    lazy val sf = arg("--sf").toDouble
    val stores = Corpus.WalmartStores
    lazy val cache = Paths.get(arg("--corpus-cache")).toAbsolutePath
    Files.createDirectories(work)
    val clock = Clock()

    // ---- set-up, timed from JVM start: the session, library init, the
    // corpus and the warm-ups
    val spark = session(cores, work)
    graft.GraftExtensions.register(spark)
    val tSession = clock.nowS
    var trainRows = 0L
    val inputs: Path = kind match {
      case "walmart" =>
        trainRows = Corpus.walmartCsv(work.resolve("inputs"), stores, seed)
        work.resolve("inputs")
      case _ => Corpus.cachedQueryTables(spark, cache.resolve(s"sf$sf"), sf)
    }
    graft.Tables.tuneVectorBatch(spark, inputs.toString)
    val tCorpus = clock.nowS
    warmUp(spark, inputs.toString, kind)
    val tReady = clock.nowS
    val setup = Map("session_s" -> (tSession - jvmStartMs / 1e3),
      "corpus_s" -> (tCorpus - tSession), "warmup_s" -> (tReady - tCorpus),
      "setup_s" -> (tReady - jvmStartMs / 1e3))

    val ops: Seq[Op] = kind match {
      case "walmart" => Seq(
        Op("etl", (s, d) => graft.pipeline.Walmart.runEtl(s, s"$d/raw", s"$d/out")),
        Op("eda", (s, d) => graft.pipeline.Walmart.runEda(s, s"$d/out")),
        Op("model", (s, d) => graft.pipeline.Walmart.runModel(s, s"$d/out")))
      case "size" => graft.SparkEntry.registry.sortBy(_.name)
        .map(q => Op(q.name, null))
      case _ =>
        val names = Files.readAllLines(Paths.get(arg("--ops"))).asScala
          .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#")).toSeq
        val byName = graft.SparkEntry.queries
        names.foreach(n => require(byName.contains(n), s"unknown query $n"))
        // the seed sets the order of operations within a pass
        new scala.util.Random(seed).shuffle(names).map(n => Op(n, null))
    }

    // ---- passes: closed loop, one client, every op exactly once per
    // pass; each pass reads its own copy of the inputs (a new path), so
    // memos keyed by input path cannot carry work between passes
    val trace = if (traced) Some(new Trace) else None
    val memory = new Memory
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tMeasure = clock.nowS
    def morePasses: Boolean = passes.isEmpty || {
      val walls = passes.map(_("wall_s").asInstanceOf[Double]).sorted
      clock.nowS - tMeasure + walls(walls.size / 2) <= seconds
    }
    // a traced run makes an untraced pass first, so that the traced pass
    // and the untraced pass after it both run in a warm JVM: the tracing
    // overhead is the traced wall against the untraced wall after it
    val plan: Iterator[Boolean] =
      if (traced) Iterator(false, true, false) else Iterator.continually(false)
    while (plan.hasNext && (traced || morePasses)) {
      val tracedPass = plan.next()
      val dir = work.resolve(s"pass${passes.size}")
      graft.streaming.EventStreams.wipe(dir)
      kind match {
        case "walmart" => copyTree(inputs, dir.resolve("raw"))
        case _ => copyTree(inputs, dir)
      }
      val window = memory.start()
      if (tracedPass) trace.foreach(_.attach(spark))
      val pass = runPass(spark, ops, dir.toString, clock)
      if (tracedPass) trace.foreach(_.detach(spark))
      val heap = memory.stop(window)
      val check = if (kind == "walmart") Some(checkWalmart(spark, s"$dir/out")) else None
      passes += pass ++ Map("traced" -> tracedPass, "check" -> check, "heap" -> heap)
    }

    val result = Map[String, Any]("kind" -> kind, "cores" -> cores,
      "seed" -> seed, "stores" -> stores, "train_rows" -> trainRows,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup" -> setup, "passes" -> passes.toList,
      "trace" -> trace.map(_.toMap))
    Files.writeString(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result))
    spark.stop()
  }

  final case class Clock() {
    private val ms0 = System.currentTimeMillis()
    private val ns0 = System.nanoTime()
    /** Epoch seconds on the monotonic clock (listener times are epoch ms). */
    def nowS: Double = ms0 / 1e3 + (System.nanoTime() - ns0) / 1e9
  }

  /** The machine's CPU time counters from /proc/stat (user, nice, system,
    * idle, iowait, irq, softirq, steal, ...); empty off Linux. */
  private def machineJiffies: Seq[Long] =
    try {
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong).toSeq
    } catch { case _: java.io.IOException => Seq.empty }

  private def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's warm-ups, less its full-table scans (the corpus was just
    * written by this JVM): one-time costs (codegen, class loading, MLlib
    * and streaming start-up) are paid here, not by whichever op runs first. */
  private def warmUp(spark: SparkSession, dir: String, kind: String): Unit = {
    if (kind != "walmart") {
      graft.ops.Relational.flagship(spark, dir).write.mode("overwrite")
        .format("noop").save()
      graft.streaming.EventStreams.runToMemory(spark,
        graft.streaming.EventStreams.tumblingDaily(
          graft.streaming.EventStreams.readEvents(spark, dir)), "perfbench_stream_warm")
    }
    val tiny = spark.range(64).select(col("id").cast("double").as("y"),
      (col("id") % 3).cast("string").as("c"), rand(7).as("x1"), rand(11).as("x2"))
    graft.pipeline.Model.fitPredict(tiny, "y", Seq("c", "x1", "x2"),
      numTrees = 2, maxDepth = 2)._2.unpersist(blocking = false)
    spark.catalog.clearCache()
  }

  private def runPass(spark: SparkSession, ops: Seq[Op], dir: String,
      clock: Clock): Map[String, Any] = {
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val cpu0 = processCpuS
    val jiffies0 = machineJiffies
    val t0 = clock.nowS
    val records = ops.map { op =>
      sc.setJobGroup(op.name, op.name)
      sc.setLocalProperty(Trace.OpKey, op.name)
      sc.setLocalProperty(Trace.PhaseKey, "construct")
      val tStart = clock.nowS
      var tConstructed = tStart
      var rows = -1L
      var digest = ""
      val error =
        try {
          if (op.run != null) op.run(spark, dir)
          else {
            val df = queries(op.name)(spark, dir)
            tConstructed = clock.nowS
            sc.setLocalProperty(Trace.PhaseKey, "sink")
            val (r, d) = sinkObserved(df)
            rows = r
            digest = d
          }
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      val tEnd = clock.nowS
      if (op.run != null) tConstructed = tEnd
      sc.clearJobGroup()
      sc.setLocalProperty(Trace.OpKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
      System.err.println(f"[perfbench] ${op.name} ${tEnd - tStart}%.3f s" +
        error.fold("")(e => s" FAILED $e"))
      // isolate ops from each other, outside the timers (as Bench does)
      spark.catalog.clearCache()
      Map[String, Any]("name" -> op.name, "start_s" -> tStart,
        "constructed_s" -> tConstructed, "end_s" -> tEnd,
        "ok" -> error.isEmpty, "error" -> error, "rows" -> rows,
        "digest" -> digest)
    }
    val t1 = clock.nowS
    val jiffies = machineJiffies.zipAll(jiffies0, 0L, 0L).map { case (b, a) => b - a }
    Map("start_s" -> t0, "end_s" -> t1, "wall_s" -> (t1 - t0),
      "cpu_s" -> (processCpuS - cpu0),
      "steal_frac" -> (if (jiffies.size > 7 && jiffies.sum > 0)
        jiffies(7).toDouble / jiffies.sum else 0.0),
      "ops" -> records.toList)
  }

  /** Output checks of the Walmart DAG, outside the timers. */
  private def checkWalmart(spark: SparkSession, out: String): Map[String, Any] =
    try {
      val v = spark.read.parquet(s"$out/validation_predictions.parquet")
      val mean = v.agg(avg("Weekly_Sales")).head().getDouble(0)
      val r2 = v.agg(lit(1.0) - sum(pow(col("Weekly_Sales") - col("prediction"), 2)) /
        sum(pow(col("Weekly_Sales") - lit(mean), 2))).head().getDouble(0)
      Map("train_rows" -> spark.read.parquet(s"$out/merged_train.parquet").count(),
        "test_rows" -> spark.read.parquet(s"$out/merged_test.parquet").count(),
        "validation_predictions" -> v.count(),
        "test_predictions" -> spark.read.parquet(s"$out/test_predictions.parquet").count(),
        "eda_tables" -> Seq("null_counts", "describe", "quartiles", "outliers",
          "corr_vs_label", "top10_stores").count(t =>
          Files.exists(Paths.get(s"$out/eda_$t.parquet"))),
        "r2" -> (if (r2.isNaN || r2.isInfinite) "not finite" else r2))
    } catch { case e: Throwable => Map("error" -> e.toString.take(300)) }

  private def copyTree(src: Path, dst: Path): Unit =
    scala.util.Using.resource(Files.walk(src)) { st =>
      st.iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }
}
