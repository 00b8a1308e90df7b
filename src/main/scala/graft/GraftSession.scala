package graft

import org.apache.spark.sql.{GraftSql, SparkSession}

/** The one session every graft main runs on (Bench, Verify, RunOne, the
  * probes, the corpus generators and WalmartBench), plus the warm-up the
  * timing mains share — so a number from one main measures the same
  * session as a number from another.
  *
  *   val spark = GraftSession.local(sfDir = Some(dir))
  *   GraftSession.warmUp(spark, dir)
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4: the width every main runs at. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The SQL confs [[local]] applies — one fixed set for every main. */
  private[graft] def sqlConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // compressed parquet bytes understate exploded-text work ~50x: the
    // 4MB default openCostInBytes floors the scan split target and left
    // an 18MB documents file at FIVE splits, so the shingle explode and
    // its eager checkpoint materialized 5-partition RDDs that throttled
    // every downstream map stage to 5-way parallelism on a 32-core box
    // (measured: q27-direct sf3 58s at 5 splits vs 43s on 3.3x MORE
    // data at 15 splits). 256KB lets files.minPartitionNum (defaults to
    // the core count) win; big tables already split past openCost.
    "spark.sql.files.openCostInBytes" -> (256 * 1024).toString,
    // timestamp queries drift vs the DuckDB oracle in any other zone
    "spark.sql.session.timeZone" -> "UTC")

  /** A `local[cpus]` session with [[sqlConfs]], no UI and the graft SQL
    * functions and plan rules registered. With `sfDir`, the vectorized
    * reader's batch is sized from that corpus's footers before the first
    * scan ([[Tables.tuneVectorBatch]] — a no-op on narrow corpora).
    *
    * Refuses a live SparkContext at any other master: the builder would
    * hand that context back and write these SQL confs onto its session,
    * so the caller would silently run at the wrong width. The check runs
    * before `getOrCreate`, so a refused call changes nothing. */
  def local(cpus: Int = envCpus, sfDir: Option[String] = None): SparkSession = {
    val master = s"local[$cpus]"
    GraftSql.activeContext.foreach { sc =>
      require(sc.master == master, s"a SparkContext at ${sc.master} is " +
        s"already live in this JVM; $master needs a fresh JVM")
    }
    val spark = sqlConfs(cpus)
      .foldLeft(SparkSession.builder().master(master)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // library init: SQL functions + the injected plan rules (incl.
    // honest checkpoint statistics) on this live session
    GraftExtensions.register(spark)
    sfDir.foreach(Tables.tuneVectorBatch(spark, _))
    spark
  }

  /** Run `body` with each `key -> value` set on the session, then restore
    * each key's prior value, or unset it if it had none, even when `body`
    * throws. The confs are session-global for the scope's duration. */
  def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Uncounted warm-up against `sfDir`: the first query in a fresh JVM
    * otherwise absorbs one-time costs — noop-sink init, codegen/JIT,
    * parquet footer reads — that belong to the session, not that query.
    * Warm against the timed sf dir (not sf0.001): q00 runs first in sorted
    * order and was the only query paying the target dir's footer reads
    * inside its timer. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    ops.Relational.flagship(spark, sfDir).write.mode("overwrite").format("noop").save()
    // Also warm every corpus table end-to-end (full column read, not just
    // footers): the flagship only touches the TPC-H star, so the first
    // documents/events/embeddings query otherwise pays that table's cold
    // page-cache read + decompression inside its own timer (q26 absorbed
    // ~20s of exactly this in two consecutive board runs). The whole sf0.1
    // corpus is ~17 MB — a one-shot uncounted scan.
    Tables.names.foreach { t =>
      Tables.load(spark, sfDir, t).write.mode("overwrite").format("noop").save()
    }
    // Same for MLlib: the first estimator fit in a JVM pays class loading,
    // BLAS instance probing and tree/kmeans codegen that every later fit
    // skips. A micro-fit on 64 in-memory rows (~2s) keeps that session cost
    // out of whichever ML query happens to run first.
    locally {
      import org.apache.spark.sql.functions._
      val tiny = spark.range(64).select(
        col("id").cast("double").as("y"),
        (col("id") % 3).cast("string").as("c"),
        rand(7).as("x1"), rand(11).as("x2"))
      graft.pipeline.Model.fitPredict(tiny, "y", Seq("c", "x1", "x2"),
        numTrees = 2, maxDepth = 2)._2.unpersist(blocking = false)
      val vecs = tiny.select(
        org.apache.spark.ml.functions.array_to_vector(array(col("x1"), col("x2")))
          .as("features"))
      new org.apache.spark.ml.clustering.KMeans().setK(2).setSeed(1L).setMaxIter(2)
        .fit(vecs).transform(vecs).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
    }
    // And the streaming machinery: the first StreamingQuery in a JVM pays
    // StreamExecution/state-store/memory-sink class loading and the
    // micro-batch planner's first codegen — session costs the first
    // streaming query (q76 in sorted order) otherwise absorbs. One windowed
    // aggregate over the sf dir's events table (2 MB at sf0.1; the dir
    // is the configurable source of truth, never a hardcoded path) replays
    // the whole path uncounted.
    locally {
      import graft.streaming.EventStreams
      EventStreams.runToMemory(spark,
        EventStreams.tumblingDaily(EventStreams.readEvents(spark, sfDir)),
        "bench_stream_warm")
      spark.catalog.clearCache()
    }
  }
}
