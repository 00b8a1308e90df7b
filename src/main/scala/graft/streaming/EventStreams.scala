package graft.streaming

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSql,
  KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, BitXorAgg}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, TransformWithState}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.LongType

/** Structured Streaming over the events table (SURVEY.md §2.9): the same
  * window()/session_window() expressions the batch queries q23–q25 verify
  * against DuckDB, run under readStream with watermarks. Batch/stream parity
  * is asserted in unit tests (same expressions, same results on a static
  * replay) — the pattern Spark's docs recommend for streaming correctness.
  *
  * Scale notes: each aggregation keeps per-(window,key) state bounded by the
  * watermark horizon; at cluster scale state is HDFS/RocksDB-checkpointed
  * and partitioned by the grouping key — nothing here is driver-resident.
  */
object EventStreams {

  /** The events stream, replayed from the batch parquet, `ts` decoded by
    * [[Tables.eventsTs]] to a zoned TIMESTAMP: watermarks require one, not
    * TIMESTAMP_NTZ. With the UTC session the wall-clock values equal the
    * batch NTZ form; each aggregate casts window bounds back to NTZ for
    * batch parity. The file-stream source wants a directory, so the stream
    * reads the table dir with a glob picking just the events file. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsTs(spark.readStream.schema(Tables.eventsFile(spark, dir).schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir), "timestamp")

  /** One user event as the per-user transformWithState processors
    * ([[TwsPatterns]], [[TwsAttribution]]) read it: `ts_us` is `ts` in
    * epoch microseconds, the in-batch sort key with `event_id`. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      event_id: Long, event_type: String)

  /** The events stream watermarked at 1 hour, as [[UserEvent]] rows keyed
    * by `user_id` — the input of every per-user transformWithState run. */
  def byUser(events: DataFrame): KeyValueGroupedDataset[Long, UserEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[UserEvent]
      .groupByKey(_.user_id)
  }

  /** Tumbling 1-day aggregate with a 1-hour watermark (≡ batch q23). */
  def tumblingDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("day_start"),
        col("n_events"), col("total_value"))

  /** Sliding 1-day/6-hour aggregate (≡ batch q24). */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day", "6 hours"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("win_start"),
        col("n_events"), col("total_value"))

  /** Per-user session windows, 30-minute gap (≡ batch q25). */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"), col("total_value"))

  /** Stream-stream inner join with event-time bounds: each purchase joins
    * the views of the SAME user in the preceding hour (view→purchase
    * attribution). The time-range predicate is what makes this viable as a
    * stream-stream join — with both sides watermarked, Spark derives a
    * state-eviction bound from `p_ts ∈ (v_ts, v_ts + 1h]` and drops buffered
    * rows once the other side's watermark passes their join horizon, so
    * join state is bounded at any input size (an unconstrained
    * stream-stream join would buffer both streams forever). Same def serves
    * the batch side (watermarks only attach to streaming frames), so the
    * parity baseline cannot drift from the streamed plan. */
  def attribution(views: DataFrame, purchases: DataFrame): DataFrame = {
    def wm(df: DataFrame, tsCol: String): DataFrame =
      if (df.isStreaming) df.withWatermark(tsCol, "1 hour") else df
    val v = wm(views.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts")), "v_ts")
    val p = wm(purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value")), "p_ts")
    v.join(p, col("v_user") === col("p_user") &&
      col("p_ts") > col("v_ts") &&
      col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** Recursively delete a scratch subtree if it exists (the wipe step the
    * file-replay streaming queries all need for per-session idempotence). */
  def wipe(path: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  /** Land `df` as exactly ONE parquet data file under `dir`, and verify
    * the count. The replay contract every [[fileReplay]] consumer relies
    * on is "one landed batch = one file = one micro-batch under
    * maxFilesPerTrigger=1, in landing order": a multi-part write breaks it
    * SILENTLY at larger inputs — the part files share one mtime yet each
    * spans the batch's full time range, so under maxFilesPerTrigger=1 the
    * first file advances the watermark past its siblings' oldest rows and
    * those rows are dropped as late (q286's thirds were green only because
    * the test corpora happened to produce single-partition writes). The
    * coalesce is a narrow merge on a bounded replay slice — never the
    * production write path. */
  private def landSingle(df: DataFrame, dir: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    import scala.jdk.CollectionConverters._
    // Files.list holds the directory fd until the stream is closed —
    // multi-landing replays in a long-lived JVM would leak one per batch
    val parts = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir))) { st =>
      st.iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    require(parts == 1,
      s"file-replay landing at $dir produced $parts parquet part files; " +
        "the one-file-per-batch replay contract (watermark ordering under " +
        "maxFilesPerTrigger=1) needs exactly 1")
  }

  /** The write→stream-back file-replay harness shared by the streaming
    * queries that need REAL file-source semantics (q197's checkpoint
    * recovery, q213's late file, q267's sentinel flushes, q286's thirds):
    * wipes `root/input`, lands `df` as the feed's first parquet file
    * (exactly one data file — see [[landSingle]]), and returns
    * (inputDir, stream) where the stream globs every subdir of
    * inputDir so later files ([[landFile]]) become later micro-batches.
    * The stream
    * carries `df`'s schema verbatim; callers add ts casts/watermarks. */
  def fileReplay(spark: SparkSession, df: DataFrame,
      root: java.nio.file.Path,
      options: Map[String, String] = Map.empty): (String, DataFrame) = {
    val inDir = root.resolve("input")
    wipe(inDir)
    landSingle(df, s"$inDir/f1")
    val stream = spark.readStream.schema(df.schema)
      .option("pathGlobFilter", "*.parquet").options(options)
      .parquet(s"$inDir/*")
    (inDir.toString, stream)
  }

  /** Land one more file into a [[fileReplay]] feed (a late batch, a
    * watermark sentinel): the glob picks it up on the next trigger.
    * Exactly one data file per landing ([[landSingle]]). */
  def landFile(df: DataFrame, inDir: String, name: String): Unit =
    landSingle(df, s"$inDir/$name")

  /** The one streaming run: starts `df` on the sink that `sink` shapes,
    * runs `feed` on the caller thread (it must drain the source) and stops
    * the query in `finally`. The run's session confs are scoped with
    * [[GraftSession.withConfs]] around start, feed and stop: the stream's
    * session is cloned at query start, which races a restore placed right
    * after `start()`, so they restore only once the query has stopped.
    *
    * `shufflePartitions` is the declared stream width, a ceiling: the run
    * uses min(declared, session `spark.sql.shuffle.partitions`) for both
    * the stateful width and the scan-split floor
    * (`spark.sql.files.minPartitionNum`, which defaults to the core count).
    * A micro-batch pays fixed machinery per state partition (store init +
    * snapshot/delta checkpoint files per partition per batch; a
    * stream-stream join holds four stores per partition) and per scan
    * split, so a bounded replay at a 32-wide session spends more on that
    * plumbing than on rows. The state width is baked into the checkpoint,
    * so it holds for the query's whole life. At production scale the same
    * lever sizes state partitions to the key cardinality and splits to
    * the landed batch, not the cluster width. `None` keeps the session's.
    *
    * A frame whose plan holds a `transformWithState` operator runs on the
    * RocksDB state store, which that API requires. */
  def run[T](spark: SparkSession, df: DataFrame,
      shufflePartitions: Option[Int] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])(
      feed: StreamingQuery => T): T = {
    val width = shufflePartitions.map(
      _.min(spark.conf.get("spark.sql.shuffle.partitions").toInt).toString)
    val widthConfs = width.toSeq.flatMap(w => Seq(
      "spark.sql.shuffle.partitions" -> w,
      "spark.sql.files.minPartitionNum" -> w))
    val storeConfs =
      if (GraftSql.analyzedPlan(df).exists(_.isInstanceOf[TransformWithState]))
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    GraftSession.withConfs(spark, widthConfs ++ storeConfs: _*) {
      val q = sink(df.writeStream).start()
      try feed(q) finally q.stop()
    }
  }

  /** Drive a ROW-LEVEL streaming frame to completion while keeping the
    * driver O(1) at ANY scale factor: each micro-batch is reduced
    * EXECUTOR-side to one row of batch-additive BIGINT aggregates
    * (counts / exact-cent sums / order-independent hash checksums — NOT
    * countDistinct, which does not compose across batches), and only that
    * one row's values fold into a driver array: a `bit_xor` aggregate
    * with `^`, every other with `+` (both identities are 0). This
    * replaces the row-level memory sink the parity harnesses used before
    * round 9 — the sink there held the full joined/deduped row stream
    * driver-resident, a bottleneck at 100× SF even though every operator
    * around it was distributed. Returns the per-aggregate totals in input
    * order (null partial aggregates — e.g. sum over an empty batch — fold
    * as 0).
    *
    * `feed` runs on the caller thread after start() and must drain the
    * source (default: one processAllAvailable; q267 overrides it with its
    * sentinel-flush dance). `shufflePartitions` is [[run]]'s width. */
  def runFolded(spark: SparkSession, rows: DataFrame, aggs: Seq[Column],
      shufflePartitions: Option[Int] = None,
      feed: StreamingQuery => Unit = _.processAllAvailable()): Seq[Long] = {
    require(aggs.nonEmpty)
    val xor = GraftSql.analyzedPlan(rows.agg(aggs.head, aggs.tail: _*))
      .collectFirst { case a: Aggregate => a.aggregateExpressions }.get
      .map(_.collectFirst { case ae: AggregateExpression => ae.aggregateFunction }
        .exists(_.isInstanceOf[BitXorAgg])).toArray
    val totals = Array.fill(aggs.size)(0L)
    run(spark, rows, shufflePartitions)(_.outputMode("append")
      .foreachBatch { (bdf: Dataset[Row], _: Long) =>
        val reduced = bdf.agg(aggs.head, aggs.tail: _*)
        // the O(1) contract, asserted: the sink-side frame is ONE row of
        // BIGINT aggregates, never event rows
        require(reduced.schema.fields.forall(_.dataType == LongType),
          s"runFolded aggregates must all be BIGINT (batch-additive); " +
            s"got ${reduced.schema.simpleString}")
        val r = reduced.head()
        var i = 0
        while (i < totals.length) {
          if (!r.isNullAt(i))
            totals(i) =
              if (xor(i)) totals(i) ^ r.getLong(i) else totals(i) + r.getLong(i)
          i += 1
        }
      })(feed)
    totals.toSeq
  }

  /** Run a streaming aggregate to completion against the static input
    * into a memory sink named `name`; returns that table.
    * `shufflePartitions` is [[run]]'s width. */
  def runToMemory(spark: SparkSession, agg: DataFrame, name: String,
      outputMode: String = "complete",
      shufflePartitions: Option[Int] = None): DataFrame = {
    run(spark, agg, shufflePartitions)(
      _.outputMode(outputMode).format("memory").queryName(name))(
      _.processAllAvailable())
    spark.table(name)
  }

  /** The order-independent multiset fingerprint of the rows' `cols`:
    * (count, Σ pmod(xxhash64, 2³¹), bit_xor(xxhash64)), all BIGINT and
    * batch-additive, so [[runFolded]] folds it across micro-batches and
    * [[sameFingerprint]] checks the batch side against the fold. A
    * differing and a phantom row could in principle cancel in the sum, but
    * cancelling the sum and the XOR of independent 64-bit hashes at once
    * is vanishingly unlikely. */
  def fingerprint(cols: Column*): Seq[Column] = Seq(
    count(lit(1)),
    sum(pmod(xxhash64(cols: _*), lit(1L << 31))).cast("long"),
    bit_xor(xxhash64(cols: _*)).cast("long"))

  /** An aggregate column: whether the aggregated rows' [[fingerprint]] of
    * `cols` equals `folded`, a [[runFolded]] result of the same
    * fingerprint (null aggregates of an empty side read as 0, like the
    * fold's). */
  def sameFingerprint(folded: Seq[Long], cols: Column*): Column =
    fingerprint(cols: _*).zip(folded)
      .map { case (c, v) => coalesce(c, lit(0L)) === lit(v) }
      .reduce(_ && _)
}
