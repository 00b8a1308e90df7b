package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's test corpus (see /root/repo/TESTDATA.md and
  * FIXTURES.md §B). One parquet file per table under `\$dir/<name>.parquet`.
  *
  * Design notes for scale:
  *  - Explicit, deterministic handling of parquet physical types beats
  *    schema inference (SURVEY.md §1) — in particular `events.ts` has been
  *    generated both as INT64 TIMESTAMP(NANOS,false) (which Spark's parquet
  *    reader rejects outright) and as plain TIMESTAMP(MICROS). The loader
  *    branches on the type it actually reads: a long column is rebuilt as a
  *    µs TIMESTAMP_NTZ, floor-truncated exactly like DuckDB's ns→µs cast so
  *    the oracle agrees; a native timestamp column is only normalized to
  *    TIMESTAMP_NTZ so every downstream query sees one stable type.
  *  - All loads are plain `spark.read.parquet` scans: column pruning and
  *    predicate pushdown reach the scan untouched (no eager work here).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Oracle parity: session must be UTC for LTZ<->NTZ conversions below.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name match {
      case "events" => eventsTs(eventsFile(spark, dir), "timestamp_ntz")
      case other => spark.read.parquet(s"$dir/$other.parquet")
    }
  }

  /** `events.parquet` as stored, `ts` still INT64 ns or TIMESTAMP µs. Its
    * schema is what the streaming replay reads the file with. */
  private[graft] def eventsFile(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** `ts` of a batch or streaming [[eventsFile]] frame as a µs timestamp of
    * type `to`: `timestamp_ntz` for batch queries, `timestamp` where a
    * watermark needs a zoned type (same wall-clock values in the UTC
    * session). */
  private[graft] def eventsTs(raw: DataFrame, to: String): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // ns-as-long corpus: integer `div` keeps full precision (double
        // division would lose low bits at 2^60 magnitudes); floor
        // semantics match DuckDB's ns→µs cast.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(to))
      case _ =>
        // µs-timestamp corpus: already sub-µs-free; only pin the type.
        raw.withColumn("ts", col("ts").cast(to))
    }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view (for spark.sql users). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Vectorized-batch row budget: 4 MiB of decoded bytes per column batch.
    * The reserve path transiently doubles, so a 32-task executor peaks at
    * ~2 × 4 MiB × tasks ≈ 256 MB — safe even in a 4–8 GB executor JVM. */
  private val TargetBatchBytes = 4L << 20
  private val MinBatchRows = 32
  private val DefaultBatchRows = 4096 // Spark's columnarReaderBatchSize default

  /** Payload-aware vectorized-reader batch sizing (round 16).
    *
    * Spark's vectorized parquet reader decodes `columnarReaderBatchSize`
    * rows (default 4096) into ONE contiguous on-heap byte array per string/
    * binary column. That default is tuned for ~100-byte rows (~0.4 MB per
    * batch); on a payload-dominated table (multimodal blobs, 100–300 KB
    * per row) the same 4096 rows demand ~0.8 GB contiguous per column —
    * and the reserve path transiently DOUBLES arrays while growing, so an
    * executor JVM with a few GB per task dies with "Cannot reserve
    * additional contiguous bytes" long before the data itself is large
    * (found when the blob generator's own report scan at 10× blob mass
    * killed a default-heap JVM; any 100 TB-cluster executor with 4–8 GB heap hits
    * the identical wall). There is no per-read knob — the capacity is read
    * from the session conf at scan build (ParquetFileFormat →
    * SQLConf.parquetVectorizedReaderBatchSize) — so the right move is to
    * size the SESSION's batch from the corpus's actual row widths.
    *
    * Footer-only measurement: parquet column-chunk metadata carries
    * `total_uncompressed_size` (decoded bytes) per column per row group, so
    * avg decoded bytes/row needs NO data scan — exactly the statistic the
    * compressed FILE size cannot stand in for (natural text compresses
    * 2–4×; GraftSession's openCostInBytes note documents the same trap on the
    * scan-split side). The widest column across all tables bounds the
    * batch: rows = TargetBatchBytes / maxAvgColBytes, clamped to
    * [MinBatchRows, 4096]. Narrow corpora (driver testdata: widest column
    * ~300 B/row) stay at the 4096 default — the conf is only written when
    * shrinking, so the classic path is untouched.
    *
    * Returns the chosen batch size (4096 = left at default). Call once per
    * session before the first scan: `GraftSession.local` does for Bench,
    * Verify and RunOne, and GenShape's blob report does before it scans
    * the corpus it wrote (the per-batch A/B is BENCH_NOTES "Round 17: the
    * narrow-scan batch A/B"). */
  def tuneVectorBatch(spark: SparkSession, dir: String): Int = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sessionState.newHadoopConf()
    var maxAvg = 0.0
    for (t <- names) {
      val root = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = root.getFileSystem(hconf)
      if (fs.exists(root)) {
        // single file or a directory of part files — footers of each
        val files =
          if (fs.getFileStatus(root).isDirectory)
            fs.listStatus(root).toSeq.map(_.getPath)
              .filter(_.getName.endsWith(".parquet"))
          else Seq(root)
        var rows = 0L
        val perCol = scala.collection.mutable.Map.empty[String, Long]
        for (f <- files) {
          // a zero-byte part, a stray non-parquet file, or a subdirectory
          // named *.parquet must degrade to "no stats from this file", not
          // abort the main before the first query — this is a tuning
          // helper, never a correctness dependency. Missing stats can only
          // leave the batch LARGER (toward the 4096 default), never wrong.
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f, hconf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              for (b <- reader.getFooter.getBlocks.asScala) {
                rows += b.getRowCount
                for (c <- b.getColumns.asScala) {
                  val k = c.getPath.toDotString
                  perCol(k) = perCol.getOrElse(k, 0L) + c.getTotalUncompressedSize
                }
              }
            } finally reader.close()
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[tables] tuneVectorBatch: skipping " +
                s"unreadable footer $f (${e.getClass.getSimpleName}: " +
                s"${e.getMessage})")
          }
        }
        if (rows > 0 && perCol.nonEmpty)
          maxAvg = math.max(maxAvg, perCol.values.max.toDouble / rows)
      }
    }
    val batch =
      if (maxAvg <= 0) DefaultBatchRows
      else math.max(MinBatchRows,
        math.min(DefaultBatchRows.toLong, (TargetBatchBytes / maxAvg).toLong).toInt)
    if (batch < DefaultBatchRows) {
      spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", batch)
      System.err.println(f"[tables] payload-aware vector batch: widest column " +
        f"${maxAvg / 1024}%.0f KB/row -> columnarReaderBatchSize=$batch")
    }
    batch
  }
}
