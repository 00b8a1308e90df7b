package graft

import org.apache.spark.sql.functions._

/** Source/layout semantics that q84's oracle can't isolate on its own:
  * parquet schema merging across drifted ingest batches (union-by-name,
  * null backfill, partition-column discovery). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSchema unions drifted batch schemas by name and nulls the gaps") {
    val dir = ops.Sources.scratchDir(spark, "graft_drift_spec") // shutdown-hook cleaned
    Seq((1L, 10L), (2L, 20L)).toDF("id", "a")
      .write.mode("overwrite").parquet(s"$dir/feed/batch=0")
    Seq((3L, 30L, "x")).toDF("id", "b", "c")
      .write.mode("overwrite").parquet(s"$dir/feed/batch=1")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/feed")
    // union-by-name: all columns present, plus the discovered partition col
    assert(merged.columns.toSet == Set("id", "a", "b", "c", "batch"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 3)
    // batch 0 rows: a populated, b/c null
    assert(rows(0).getAs[Long]("a") == 10L && rows(0).isNullAt(rows(0).fieldIndex("b")))
    // batch 1 row: b/c populated, a null
    assert(rows(2).getAs[Long]("b") == 30L && rows(2).getAs[String]("c") == "x"
      && rows(2).isNullAt(rows(2).fieldIndex("a")))
    // partition discovery typed the batch column from the directory names
    assert(rows(2).getAs[Int]("batch") == 1)
    // without mergeSchema the footer of one batch wins — the drift test
    // would silently read a projection, not the union (documents why the
    // option is load-bearing in q84)
    val single = spark.read.parquet(s"$dir/feed")
    assert(single.columns.toSet != merged.columns.toSet)
  }

  test("q89 sort-clustered layout: disjoint per-file time ranges, filter pushed") {
    // run the query once so the clustered copy exists in the scratch dir
    val out = SparkEntry.queries("q89_sorted_layout")(spark, sf0001)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"),
      s"time-range filter did not reach the clustered scan:\n$plan")
    // per-file min/max must be narrow AND disjoint — that is what lets the
    // reader skip whole files/row groups on a time predicate
    val dir = ops.Sources.scratchDir(spark, "graft_sorted")
    val ranges = spark.read.parquet(s"$dir/li_sorted")
      .groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .collect().map(r => (r.getAs[java.time.LocalDateTime]("lo"),
        r.getAs[java.time.LocalDateTime]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1, "range repartition produced a single file")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(!hi.isAfter(lo), s"file ranges overlap: $hi > $lo")
    }
    // total span actually split: no file covers the whole table's range
    val (globalLo, globalHi) = (ranges.head._1, ranges.last._2)
    assert(ranges.forall { case (lo, hi) =>
      lo.isAfter(globalLo) || hi.isBefore(globalHi) })
  }

  test("q96 z-order layout: per-file bounding boxes cover a fraction of the 2-D grid") {
    // run the query once so the clustered copy exists in the scratch dir
    SparkEntry.queries("q96_zorder_layout")(spark, sf0001).collect()
    val dir = ops.Sources.scratchDir(spark, "graft_zorder")
    val withDay = spark.read.parquet(s"$dir/ev_z")
      .withColumn("day", datediff(to_date(col("ts")), lit("2024-01-01").cast("date")))
    val boxes = withDay
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("day").as("dlo"), max("day").as("dhi"))
      .collect()
      .map(r => (r.getAs[Long]("ulo"), r.getAs[Long]("uhi"),
        r.getAs[Int]("dlo"), r.getAs[Int]("dhi")))
    assert(boxes.length > 1, "z repartition produced a single file")
    val gU = (boxes.map(_._1).min, boxes.map(_._2).max)
    val gD = (boxes.map(_._3).min, boxes.map(_._4).max)
    val gridArea = (gU._2 - gU._1 + 1).toDouble * (gD._2 - gD._1 + 1)
    val avgArea = boxes.map { case (ulo, uhi, dlo, dhi) =>
      (uhi - ulo + 1).toDouble * (dhi - dlo + 1) }.sum / boxes.length
    // z-clustering must bound BOTH dimensions per file: with >= 4 files the
    // average bounding box should cover well under half the global grid
    // (single-column sorting leaves the other dimension's extent ~full)
    assert(avgArea < 0.5 * gridArea,
      s"z-order boxes too loose: avg $avgArea vs grid $gridArea " +
        boxes.mkString(", "))
  }

  test("xml roundtrip: audit equals the parquet-direct audit byte-exact") {
    import org.apache.spark.sql.functions._
    val viaXml = ops.Sources.queries.find(_.name == "q187_xml_roundtrip").get
      .fn(spark, sf0001).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_uniq_texts"),
          r.getAs[Long]("sum_text_chars"))).toMap
    val direct = Tables.documents(spark, sf0001)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text").cast("binary"))).as("u"),
        sum(length(col("text"))).cast("long").as("c"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n"), r.getAs[Long]("u"), r.getAs[Long]("c"))).toMap
    assert(viaXml == direct,
      "XML escape→parse cycle must preserve every text byte")
    assert(viaXml.nonEmpty)
  }

  test("q123 accounting is correct on a lazily read PERMISSIVE JSON frame") {
    // no checkpoint in between: Spark rejects a raw-JSON query whose only
    // referenced column is the corrupt-record column, so the accounting
    // must stand on the parsed columns too, not on q123's checkpoint
    val dir = ops.Sources.scratchDir(spark, "graft_corrupt_spec")
    val good = (1L to 5L).map(i =>
      s"""{"event_id":$i,"user_id":7,"event_type":"view","value":1.5}""")
    val bad = Seq("""{"event_id":6,"user_id":7""", "not json at all")
    (good ++ bad).toDF("value").write.mode("overwrite").text(s"$dir/jsonl")
    val read = spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, " +
          "_corrupt_record STRING"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/jsonl")
    val r = ops.Sources.corruptAccounting(read).collect().head
    assert(r.getAs[Long]("n_lines") == 7L)
    assert(r.getAs[Long]("n_parsed") == 5L)
    assert(r.getAs[Long]("n_quarantined") == 2L)
    assert(r.getAs[Boolean]("quarantine_ok"))
  }
}
