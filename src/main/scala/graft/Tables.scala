package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
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
  *  - All loads are plain parquet scans: column pruning and predicate
  *    pushdown reach the scan untouched. A schema-less `spark.read.parquet`
  *    would run a one-task Spark job to merge footers before it returns;
  *    [[read]] reads the same footer on the driver instead and passes the
  *    schema, so a load starts no Spark job (BENCH_NOTES "Zero-job table
  *    loads").
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
      case other => read(spark, s"$dir/$other.parquet")
    }
  }

  /** `events.parquet` as stored, `ts` still INT64 ns or TIMESTAMP µs. Its
    * schema is what the streaming replay reads the file with. */
  private[graft] def eventsFile(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(spark, s"$dir/events.parquet")
  }

  /** `spark.read.parquet(path)` with the schema Spark would infer, read
    * here on the driver from the one footer its inference reads
    * (`ParquetUtils.inferSchema`, no schema merging): `_common_metadata`,
    * else `_metadata`, else the first data file in path order. The footer
    * is converted by Spark's own `readSchemaFromFooter` with the converter
    * settings inference takes from the session conf at this moment, so
    * `nanosAsLong` and the Spark schema stored in the footer apply exactly
    * as they would there. Anything else (a missing path, no data file,
    * partition subdirectories, `mergeSchema` on) is left to Spark's own
    * inference, with its own errors. Read fresh on every load: a file
    * rewritten in place is seen as it is now. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val files = listTable(fs, root)
    val toTouch =
      if (conf.isParquetSchemaMergingEnabled || files.exists(_.isDirectory)) None
      else files.find(_.getPath.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(files.find(_.getPath.getName == ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !isSummary(f)))
    toTouch match {
      case None => spark.read.parquet(path)
      case Some(f) =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = new Footer(f.getPath,
          readFooter(f, hconf, ParquetMetadataConverter.SKIP_ROW_GROUPS))
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter))
          .parquet(path)
    }
  }

  /** What Spark's file index lists for a table path: nothing when it is
    * missing, the path itself when it is a file, else its visible children
    * (Spark's hidden-file rule) in path order. */
  private def listTable(fs: FileSystem, root: Path): Seq[FileStatus] =
    if (!fs.exists(root)) Seq.empty
    else {
      val st = fs.getFileStatus(root)
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(root).toSeq
        .filterNot(c => GraftSql.hiddenPath(c.getPath.getName))
        .sortBy(_.getPath.toString)
    }

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == ParquetFileWriter.PARQUET_METADATA_FILE ||
      n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  }

  /** One parquet footer, `filter` choosing how much row-group metadata to
    * decode. */
  private def readFooter(f: FileStatus, hconf: Configuration,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hconf), filter)

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
      val root = new Path(s"$dir/$t.parquet")
      val fs = root.getFileSystem(hconf)
      // single file or a directory of part files — footers of each
      val files = listTable(fs, root).filter(f => f.isFile && !isSummary(f))
      var rows = 0L
      val perCol = scala.collection.mutable.Map.empty[String, Long]
      for (f <- files) {
        // a zero-byte part or a stray non-parquet file must degrade to
        // "no stats from this file", not abort the main before the first
        // query — this is a tuning helper, never a correctness dependency.
        // Missing stats can only leave the batch LARGER (toward the 4096
        // default), never wrong.
        try {
          val footer = readFooter(f, hconf, ParquetMetadataConverter.NO_FILTER)
          for (b <- footer.getBlocks.asScala) {
            rows += b.getRowCount
            for (c <- b.getColumns.asScala) {
              val k = c.getPath.toDotString
              perCol(k) = perCol.getOrElse(k, 0L) + c.getTotalUncompressedSize
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[tables] tuneVectorBatch: skipping " +
              s"unreadable footer ${f.getPath} (${e.getClass.getSimpleName}: " +
              s"${e.getMessage})")
        }
      }
      if (rows > 0 && perCol.nonEmpty)
        maxAvg = math.max(maxAvg, perCol.values.max.toDouble / rows)
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
