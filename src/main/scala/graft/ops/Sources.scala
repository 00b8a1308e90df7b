package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.Ckpt._

/** CSV source coverage (SURVEY.md §2.1 S1): the reference ingests CSVs with
  * two hazards our reader must tolerate — bare-CR line endings
  * (stores.csv, FIXTURES.md §A) and the literal string "NA" standing in for
  * null in numeric columns (features.csv, etl.py:96-106).
  *
  * q47 round-trips the nation table through exactly that shape: a CR-only,
  * "NA"-poisoned CSV written to a temp dir, read back with an explicit
  * StructType (never inferSchema — SURVEY.md §4.2), repaired with the
  * ANSI-safe when() guard, and aggregated. The oracle computes the same
  * aggregate from the parquet table with the same deterministic "NA"
  * injection rule, so the entire CSV path — write, CR parse, sentinel
  * repair, cast — is hash-verified.
  */
object Sources {

  /** q123's line accounting and quarantine audit over a PERMISSIVE JSON
    * frame with a `_corrupt_record` column. Spark rejects a raw-JSON query
    * whose only referenced column is the corrupt-record column, so the
    * accounting also counts the parsed `event_id`s: a clean quarantine
    * parses an id on exactly the parsed lines (`n_ids` = `n_parsed`).
    * Correct on a lazily read frame; q123 checkpoints its frame only so
    * the two aggregates do not parse the JSON twice. */
  private[graft] def corruptAccounting(read: DataFrame): DataFrame = {
    val acct = read.agg(
      count(lit(1)).as("n_lines"),
      sum(col("_corrupt_record").isNull.cast("int")).cast("long").as("n_parsed"),
      sum(col("_corrupt_record").isNotNull.cast("int")).cast("long")
        .as("n_quarantined"),
      count(col("event_id")).as("n_ids"))
    // quarantine audit: every bad row kept its raw bytes (reprocessable),
    // and no parsed row was secretly malformed
    val audit = read.agg(
      sum((col("_corrupt_record").isNotNull &&
        !col("_corrupt_record").endsWith("}")).cast("int")).as("bad_kept"),
      sum((col("_corrupt_record").isNotNull).cast("int")).as("bad_total"),
      sum((col("_corrupt_record").isNull && col("event_id").isNull).cast("int"))
        .as("parsed_but_null"))
    acct.crossJoin(audit)
      .select(col("n_lines"), col("n_parsed"), col("n_quarantined"),
        (col("bad_kept") === col("bad_total") &&
          col("parsed_but_null") === 0 &&
          col("n_ids") === col("n_parsed")).as("quarantine_ok"))
  }

  /** Scratch dir keyed by Spark applicationId: stable within a session
    * (repeated query runs overwrite in place), unique across concurrent
    * JVMs, removed on JVM exit. */
  def scratchDir(spark: org.apache.spark.sql.SparkSession,
      prefix: String): java.nio.file.Path = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${spark.sparkContext.applicationId}")
    if (!Files.exists(dir)) {
      Files.createDirectories(dir)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }))
    }
    dir
  }

  /** Deterministic CSV bytes for the nation table: regionkey becomes "NA"
    * whenever nationkey % 5 == 0; lines joined with bare CR. */
  private def nationCsv(rows: Seq[(Int, String, Int)]): String = {
    val header = "n_nationkey,n_name,n_regionkey"
    val lines = rows.sortBy(_._1).map { case (k, name, r) =>
      val reg = if (k % 5 == 0) "NA" else r.toString
      s"$k,$name,$reg"
    }
    (header +: lines).mkString("\r") // CR-only endings, like stores.csv
  }

  val queries: Seq[Q] = Seq(

    // Multi-format round-trip (S2/S3 beyond parquet+CSV): the same slice of
    // lineitem written to ORC and JSON-lines, read back with explicit
    // schemas, and aggregated from BOTH copies — the oracle computes the
    // same aggregate straight from the parquet table, so any loss in either
    // format's write→read cycle (types, nulls, precision) breaks the hash.
    Q("q52_format_roundtrip",
      """SELECT count(*) AS n_rows,
        |       round(sum(l_extendedprice), 2) AS total_price,
        |       round(sum(l_quantity), 2) AS total_qty,
        |       count(DISTINCT l_returnflag) AS n_flags
        |FROM lineitem WHERE l_linenumber = 1""".stripMargin) { (s, d) =>
      val slice = Tables.lineitem(s, d).filter(col("l_linenumber") === 1)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      // per-application path, rewritten in place within a session (no
      // accumulation across invocations) yet unique per JVM (no race when
      // two processes bench/verify concurrently); deleted on JVM exit
      val dir = Sources.scratchDir(s, "graft_fmt")
      slice.write.mode("overwrite").orc(s"$dir/li_orc")
      slice.write.mode("overwrite").json(s"$dir/li_json")
      val orc = s.read.schema(slice.schema).orc(s"$dir/li_orc")
      val json = s.read.schema(slice.schema).json(s"$dir/li_json")
      // halves from different formats must re-combine to the exact total
      val a = orc.filter(col("l_orderkey") % 2 === 0)
      val b = json.filter(col("l_orderkey") % 2 =!= 0)
      a.union(b).agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("total_price"),
        round(sum(col("l_quantity")), 2).as("total_qty"),
        countDistinct(col("l_returnflag")).as("n_flags"))
    },

    Q("q47_csv_source",
      """WITH injected AS (
        |  SELECT n_nationkey,
        |         CASE WHEN n_nationkey % 5 = 0 THEN NULL
        |              ELSE CAST(n_regionkey AS FLOAT) END AS r
        |  FROM nation)
        |SELECT count(*) AS n_rows,
        |       count(r) AS n_nonnull,
        |       CAST(round(sum(r), 1) AS DOUBLE) AS sum_region,
        |       CAST(round(avg(r), 4) AS DOUBLE) AS avg_region
        |FROM injected""".stripMargin) { (s, d) =>
      val rows = Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
      // per-application scratch (see q52) — no accumulation, no races
      val dir = Sources.scratchDir(s, "graft_csv")
      val file = dir.resolve("nation.csv")
      Files.write(file, nationCsv(rows).getBytes(StandardCharsets.UTF_8))
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", StringType))) // "NA"-poisoned: read as string
      val csv = s.read
        .option("header", "true")
        .option("lineSep", "\r") // tolerate bare-CR endings (stores.csv)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(file.toString)
      graft.pipeline.Etl.naRepair(csv, Seq("n_regionkey"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("n_regionkey")).as("n_nonnull"),
          round(sum(col("n_regionkey")), 1).cast("double").as("sum_region"),
          round(avg(col("n_regionkey")), 4).cast("double").as("avg_region"))
    },

    // Hive-style partitioned layout (S-family, THE dominant pruning lever
    // at 100 TB): events written partitionBy(day), read back with a
    // day-range predicate that must prune to 7 of 30 partition directories
    // at planning time — files outside the range are never opened
    // (PlanQualitySpec pins the PartitionFilters contract). The oracle
    // recomputes the same week straight from the unpartitioned table, so
    // the whole write→layout→prune→scan cycle is hash-verified.
    Q("q77_partitioned_scan",
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Sources.scratchDir(s, "graft_part")
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        // co-locate each day before the partitioned write: without this,
        // every task holds rows of every day and the layout explodes to
        // tasks × days tiny files (measured 30 × 32 at sf0.1) — the classic
        // small-files failure a 100 TB ingest cannot afford. One shuffle on
        // the partition key → one file per day partition.
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day")
        .parquet(s"$dir/events_by_day")
      s.read.parquet(s"$dir/events_by_day")
        .filter(col("day").between(lit("2024-01-08").cast("date"),
          lit("2024-01-14").cast("date")))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("day"))
    },

    // Bucketed co-located join (SURVEY.md §8): lineitem and orders are both
    // written bucketed 8 ways on the join key (sorted within buckets), so
    // the sort-merge join consumes the tables' on-disk partitioning and the
    // plan carries NO shuffle exchange on either fact side — the shape that
    // turns every repeated fact⋈fact join at 100 TB from a cluster-wide
    // shuffle into a local merge. The per-orderkey aggregate reuses the same
    // bucketing (no exchange there either); PlanQualitySpec pins both.
    // The oracle computes the identical join+agg from the raw tables.
    Q("q78_bucketed_join",
      """SELECT count(*) AS n_orders,
        |       round(sum(order_rev), 2) AS total_rev,
        |       max(n_items) AS max_items
        |FROM (
        |  SELECT l.l_orderkey,
        |         sum(l.l_extendedprice * (1 - l.l_discount)) AS order_rev,
        |         count(*) AS n_items
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |  GROUP BY l.l_orderkey)""".stripMargin) { (s, d) =>
      val warehouse = Sources.scratchDir(s, "graft_bucket")
      def bucketed(df: org.apache.spark.sql.DataFrame, name: String,
          key: String): org.apache.spark.sql.DataFrame = {
        // session-catalog bucketed table backed by an explicit external
        // path (same scratch lifecycle as q52); re-registered per session
        s.sql(s"DROP TABLE IF EXISTS $name")
        // co-locate rows with their bucket before the write: repartition's
        // HashPartitioning is the same murmur3 scheme bucketBy uses, so
        // bucket i's rows all land in task i and the layout is exactly one
        // file per bucket. Without it every shuffle task writes its own
        // slice of every bucket — tasks × buckets files (32 × 8 here), the
        // bucketed flavor of the small-files failure.
        df.repartition(8, col(key)).write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$warehouse/$name")
          .saveAsTable(name)
        s.table(name)
      }
      val li = bucketed(Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_li_bucketed", "l_orderkey")
      val o = bucketed(Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select("o_orderkey"),
        "graft_o_bucketed", "o_orderkey")
      li.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("order_rev"), count(lit(1)).as("n_items"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("order_rev")), 2).as("total_rev"),
          max(col("n_items")).as("max_items"))
    },

    // Observed write — df.observe(): data-quality metrics accumulated
    // DURING the sink job itself (per-task accumulators folded on the
    // driver), not by a second scan. At 100 TB this is how a pipeline
    // audits what it just wrote (row counts, null counts, value bounds)
    // for free; a follow-up validation query would double the I/O. The
    // emitted row is the observation payload itself; the oracle recomputes
    // every metric from the source table, so a drifting accumulator (rows
    // double-counted under task retry, a lost partition) breaks the hash.
    Q("q117_observed_write",
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null_price,
        |       round(sum(o_totalprice), 2) AS total_price,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders""".stripMargin) { (s, d) =>
      val obs = new org.apache.spark.sql.Observation()
      val dir = Sources.scratchDir(s, "graft_observe")
      Tables.orders(s, d)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").isNull.cast("int")).cast("long")
            .as("n_null_price"),
          round(sum(col("o_totalprice")), 2).as("total_price"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .write.mode("overwrite").parquet(s"$dir/orders_observed")
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("n_null_price").asInstanceOf[Long],
        m("total_price").asInstanceOf[Double],
        m("min_key").asInstanceOf[Long],
        m("max_key").asInstanceOf[Long]))
        .toDF("n_rows", "n_null_price", "total_price", "min_key", "max_key")
    },

    // Corrupt-record ingestion — PERMISSIVE mode with a
    // _corrupt_record column: the production posture for untrusted feeds
    // at scale, where one malformed line must cost one quarantined row,
    // never a failed 100 TB job (FAILFAST) or a silent drop (DROPMALFORMED).
    // A JSONL replay of the events feed is deterministically vandalized
    // (every event_id ≡ 0 mod 97 loses its closing brace) and read back
    // with an explicit schema; good rows parse, bad rows land intact in
    // the quarantine column for reprocessing. The oracle recomputes the
    // good/bad split from the same modular rule on the source table.
    Q("q123_corrupt_records",
      """SELECT count(*) AS n_lines,
        |       CAST(sum(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_parsed,
        |       CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_quarantined,
        |       CAST(1 AS BOOLEAN) AS quarantine_ok
        |FROM events""".stripMargin) { (s, d) =>
      val dir = Sources.scratchDir(s, "graft_corrupt")
      val jsonl = Tables.events(s, d)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type"),
            col("value"))).as("line"))
        .select(when(col("event_id") % 97 === 0,
          expr("substring(line, 1, length(line) - 1)")) // drop closing brace
          .otherwise(col("line")).as("value"))
      jsonl.write.mode("overwrite").text(s"$dir/events_jsonl")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, " +
          "_corrupt_record STRING")
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$dir/events_jsonl")
        // ckpt(a): accounting + quarantine audit; unshared, the JSON parses twice
        .eagerCkpt
      corruptAccounting(read)
    },

    // Schema drift across ingest batches: two parquet slices of the same
    // logical feed written with DIFFERENT schemas — an early batch with
    // (event_id, user_id, value_cents) and a later batch that renamed the
    // amount column and added a new one (amount_cents, channel). Reading
    // the directory with mergeSchema=true unions the schemas by name and
    // nulls the columns a batch lacks — the standard answer to column
    // add/rename drift in a long-lived 100 TB feed (schema merging happens
    // at planning time from file footers; data files are never rewritten).
    // Cent amounts use floor(value*100): exact BIGINT arithmetic both
    // engines reproduce bit-identically (float sums would not hash-match).
    // The oracle recomputes the same union from the base table with
    // explicit NULLs, so a dropped column, a mis-merged type, or phantom
    // non-null backfill all break the hash.
    Q("q84_schema_drift",
      """WITH u AS (
        |  SELECT event_id,
        |         CAST(floor(value * 100) AS BIGINT) AS value_cents,
        |         CAST(NULL AS BIGINT) AS amount_cents,
        |         CAST(NULL AS VARCHAR) AS channel
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT event_id, NULL,
        |         CAST(floor(value * 100) AS BIGINT),
        |         CASE WHEN user_id % 2 = 0 THEN 'web' ELSE 'app' END
        |  FROM events WHERE event_type = 'purchase')
        |SELECT count(*) AS n_rows,
        |       count(value_cents) AS n_value,
        |       count(amount_cents) AS n_amount,
        |       count(channel) AS n_channel,
        |       CAST(sum(value_cents) AS BIGINT) AS sum_value_cents,
        |       CAST(sum(amount_cents) AS BIGINT) AS sum_amount_cents
        |FROM u""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val dir = Sources.scratchDir(s, "graft_drift")
      ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).cast("bigint").as("value_cents"))
        .write.mode("overwrite").parquet(s"$dir/feed/batch=0")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).cast("bigint").as("amount_cents"),
          when(col("user_id") % 2 === 0, "web").otherwise("app")
            .as("channel"))
        .write.mode("overwrite").parquet(s"$dir/feed/batch=1")
      s.read.option("mergeSchema", "true").parquet(s"$dir/feed")
        .agg(count(lit(1)).as("n_rows"),
          count(col("value_cents")).as("n_value"),
          count(col("amount_cents")).as("n_amount"),
          count(col("channel")).as("n_channel"),
          sum(col("value_cents")).as("sum_value_cents"),
          sum(col("amount_cents")).as("sum_amount_cents"))
    },

    // Sort-clustered file layout — the third leg of the layout family
    // (q77 = partitioned directories, q78 = buckets): repartitionByRange on
    // the time column gives each output file a NARROW, disjoint l_shipdate
    // band, and sortWithinPartitions orders rows inside it — so every
    // parquet row group carries tight min/max stats and a time-range scan
    // skips whole files/row groups at read time (the clustering a 100 TB
    // append-only fact table needs where directory partitioning is too
    // coarse). The query proves the round trip: a shipdate-range aggregate
    // off the clustered copy must equal the oracle's aggregate off the base
    // table; SourcesSpec pins the physical layout (disjoint per-file ranges,
    // pushed scan filter).
    Q("q89_sorted_layout",
      """SELECT count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1996-04-01'""".stripMargin) { (s, d) =>
      val dir = Sources.scratchDir(s, "graft_sorted")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(s"$dir/li_sorted")
      s.read.parquet(s"$dir/li_sorted")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    },

    // Z-ORDER clustered layout — the multi-dimensional leg of the layout
    // family (q77 directories / q78 buckets / q89 single-column sort):
    // interleaving the bits of (user_id, day) into a Morton value and
    // range-partitioning + sorting on it gives every output file a tight
    // bounding box on BOTH dimensions at once, so a scan filtered on either
    // — or both — skips files via parquet min/max stats. Single-column
    // sorting can only bound its own column; this is what
    // `OPTIMIZE ZORDER BY` does on 100 TB fact tables with two common
    // filter dimensions. The z-value is a pure codegen'd bit expression
    // (functions.ZOrder), computed on the fly and never stored. The query
    // proves the round trip: a 2-D range aggregate off the clustered copy
    // equals the oracle's aggregate off the base table; SourcesSpec pins
    // the physical property (per-file bounding boxes cover a fraction of
    // the grid).
    Q("q96_zorder_layout",
      """SELECT count(*) AS n_rows,
        |       round(sum(value), 2) AS total_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 40 AND 59
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-15'
        |""".stripMargin) { (s, d) =>
      val dir = Sources.scratchDir(s, "graft_zorder")
      val day = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
      // bits must cover the user_id DOMAIN, not just the test corpus's low
      // ids: zvalue keeps only the low `bits` bits, so 8 bits at sf0.1
      // (user_id ≤ 1499) would alias users 256 apart into the same
      // z-prefix and every file's user_id min/max would span the full
      // range — silently defeating the 2-D skipping the layout exists for
      val z = graft.functions.ZOrder.zvalue(col("user_id"), day, bits = 16)
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "value")
        .repartitionByRange(8, z)
        .sortWithinPartitions(z)
        .write.mode("overwrite").parquet(s"$dir/ev_z")
      s.read.parquet(s"$dir/ev_z")
        .filter(col("user_id").between(40, 59) &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("value")), 2).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // Keyed upsert/merge on immutable parquet — the rewrite pattern every
    // non-transactional lakehouse uses (Delta/Iceberg MERGE compiles to the
    // same thing): updated rows replace their base rows via
    // anti-join + union, the merged table is written and read back, and the
    // post-merge state is aggregated. Updates = every 10th order re-priced
    // +10% and flagged 'U' (deterministic), so the oracle can compute the
    // post-merge state directly from the base table — an independent
    // formulation that breaks if the merge drops, duplicates, or fails to
    // replace any row.
    Q("q81_upsert_merge",
      """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'U'
        |            ELSE o_orderstatus END AS status,
        |       count(*) AS n_orders,
        |       round(sum(CASE WHEN o_orderkey % 10 = 0
        |                 THEN o_totalprice * 1.1
        |                 ELSE o_totalprice END), 2) AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // no per-row re-rounding: round(x*1.1, 2) straddles half-cent
      // boundaries differently across engines for some doubles; the raw
      // IEEE product is bit-identical everywhere, rounded once at the edge
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      // the merge: keep base rows with no update, append updated versions
      val merged = base.join(updates.select("o_orderkey"), Seq("o_orderkey"),
        "left_anti").unionByName(updates)
      val dir = Sources.scratchDir(s, "graft_merge")
      merged.write.mode("overwrite").parquet(s"$dir/orders_merged")
      s.read.parquet(s"$dir/orders_merged")
        .select(col("o_orderstatus").as("status"), col("o_totalprice"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("status"))
    },

    // JSONL corpus round-trip — JSONL is THE interchange format for LLM
    // training corpora, and free text is its hazard case: quotes, slashes
    // and control characters must survive the escape→parse cycle
    // byte-exact. The documents table is written as JSON-lines, read back
    // with the explicit schema (never inferred), and audited per source;
    // n_uniq_texts compares count(DISTINCT md5(text)) of the round-tripped
    // copy against the oracle's straight-from-parquet value, so a single
    // mangled byte in any document breaks the hash. Writer/reader both
    // stream partition-parallel — no single-file choke point.
    Q("q105_jsonl_corpus",
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_uniq_texts,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_text_chars,
        |       CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_len_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val dir = Sources.scratchDir(s, "graft_jsonl")
      docs.write.mode("overwrite").json(s"$dir/docs_jsonl")
      s.read.schema(docs.schema).json(s"$dir/docs_jsonl")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_uniq_texts"),
          sum(length(col("text"))).cast("long").as("sum_text_chars"),
          sum(when(length(col("text")) === col("n_chars"), 1).otherwise(0))
            .cast("long").as("n_len_ok"))
        .orderBy(col("source"))
    },

    // XML round-trip on Spark 4's NATIVE xml datasource (the spark-xml
    // connector folded into core) — the interchange format q52/q105 don't
    // cover, and the one where free text is most hazardous: <, &, quotes
    // and control chars must survive the escape→parse cycle byte-exact.
    // The documents table is written as XML rows, read back with the
    // EXPLICIT schema (never inferred), and the per-source byte audit must
    // equal the same audit computed straight off parquet — any mangled
    // character changes an md5 and breaks the count. Scale: the write is
    // a parallel per-partition encode; the audit is one partial-aggregated
    // pass over the re-read.
    Q("q187_xml_roundtrip",
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_uniq_texts,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_text_chars,
        |       count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
      val docs = Tables.documents(s, d)
      val dir = Sources.scratchDir(s, "graft_xml")
      docs.write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc")
        .xml(s"$dir/docs_xml")
      s.read.schema(docs.schema)
        .option("rowTag", "doc").xml(s"$dir/docs_xml")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_uniq_texts"),
          sum(length(col("text"))).cast("long").as("sum_text_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("source"))
    }
  )
}
