package graft

import java.nio.file.{Files, Path => JPath}

import graft.streaming.EventStreams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Differential tests of `Tables`' driver-side schema read against Spark's
  * own parquet schema inference, and the guard that a table load starts no
  * Spark job. */
class TablesSpec extends SparkSpec {

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** The schema Spark's inference gives the table `Tables.load` read, under
    * the session confs the load left set. */
  private def inferred(dir: String, name: String): StructType = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") Tables.eventsTs(raw, "timestamp_ntz").schema else raw.schema
  }

  private def assertParity(dir: String): Unit =
    Tables.names.foreach { t =>
      val got = Tables.load(spark, dir, t).schema
      assert(got == inferred(dir, t), s"$t under $dir")
    }

  private def withTmp(prefix: String)(body: JPath => Unit): Unit = {
    val tmp = Files.createTempDirectory(prefix)
    try body(tmp) finally EventStreams.wipe(tmp)
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("load: every table's schema equals Spark's inferred schema on the " +
    "driver corpus") {
    assertParity(sf0001)
    // the converter reads the session conf at load time
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assert(Tables.eventsFile(spark, sf0001).schema ==
        spark.read.parquet(s"$sf0001/events.parquet").schema)
    }
  }

  test("load: Spark-written tables (part files, _SUCCESS, .crc, zero rows) " +
    "keep Spark's inferred schema") {
    withTmp("graft_tables_spark") { tmp =>
      Tables.names.foreach { t =>
        val src = spark.read.parquet(s"$sf0001/$t.parquet")
        // region has 5 rows: written with zero rows; orders partitioned
        // into subdirectories; the rest as 3 part files
        val w = t match {
          case "region" => src.limit(0).write
          case "orders" => src.write.partitionBy("o_orderstatus")
          case _ => src.repartition(3).write
        }
        w.parquet(s"$tmp/$t.parquet")
      }
      val parts = new java.io.File(s"$tmp/lineitem.parquet").list()
      assert(parts.count(_.endsWith(".parquet")) == 3 &&
        parts.contains("_SUCCESS") && parts.exists(_.endsWith(".crc")),
        parts.mkString(", "))
      assertParity(tmp.toString)
      assert(Tables.load(spark, tmp.toString, "region").count() == 0)
      assert(Tables.load(spark, tmp.toString, "orders").columns.last == "o_orderstatus")
      // a part file with one more column: Spark reads the first file's
      // schema, or with mergeSchema on merges every file's
      spark.read.parquet(s"$sf0001/nation.parquet").limit(1)
        .withColumn("n_extra", org.apache.spark.sql.functions.lit(1))
        .write.mode("append").parquet(s"$tmp/nation.parquet")
      assertParity(tmp.toString)
      withConf("spark.sql.parquet.mergeSchema", "true") {
        assert(Tables.load(spark, tmp.toString, "nation").columns.contains("n_extra"))
        assertParity(tmp.toString)
      }
    }
  }

  test("load: an INT64 nanosecond events.ts reads as Spark infers it, and " +
    "decodes to the same rows") {
    withTmp("graft_tables_ns") { tmp =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); required double value; }")
      val w = ExampleParquetWriter.builder(new Path(s"$tmp/events.parquet"))
        .withType(schema).withConf(new Configuration()).build()
      val g = new SimpleGroupFactory(schema)
      try Seq(1700000000123456789L, 1700000000123456999L, 0L).zipWithIndex.foreach {
        case (ns, i) =>
          w.write(g.newGroup().append("event_id", i.toLong).append("ts", ns)
            .append("value", i * 1.5))
      } finally w.close()
      val dir = tmp.toString
      val raw = Tables.eventsFile(spark, dir)
      assert(raw.schema("ts").dataType == LongType)
      assert(raw.schema == spark.read.parquet(s"$dir/events.parquet").schema)
      val got = Tables.load(spark, dir, "events")
      assert(got.schema("ts").dataType == TimestampNTZType)
      assert(got.collect().toSeq == Tables.eventsTs(
        spark.read.parquet(s"$dir/events.parquet"), "timestamp_ntz").collect().toSeq)
    }
  }

  test("readEvents: the stream's schema is the one read from Spark's " +
    "inferred events schema") {
    val got = EventStreams.readEvents(spark, sf0001).schema
    val want = Tables.eventsTs(spark.readStream
      .schema(spark.read.parquet(s"$sf0001/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf0001), "timestamp").schema
    assert(got == want)
  }

  test("load: a table with no data file raises Spark's own inference error") {
    def condition(df: => DataFrame): (Class[_], String) = {
      val e = intercept[AnalysisException](df)
      (e.getClass, e.getCondition)
    }
    withTmp("graft_tables_empty") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/region.parquet"
      Files.createDirectory(tmp.resolve("region.parquet"))
      val empty = condition(spark.read.parquet(path))
      assert(empty._2 == "UNABLE_TO_INFER_SCHEMA")
      assert(condition(Tables.load(spark, dir, "region")) == empty)
      Files.createFile(tmp.resolve("region.parquet/_SUCCESS"))
      assert(condition(Tables.load(spark, dir, "region")) == empty)
      // and a missing table keeps Spark's missing-path error
      assert(condition(Tables.load(spark, dir, "nation")) ==
        condition(spark.read.parquet(s"$dir/nation.parquet")))
    }
  }

  test("zero-job loads: loading every table and the events stream starts no " +
    "Spark job") {
    // A schema-less spark.read.parquet runs a one-task footer-merge job per
    // load; the driver-side footer read must leave construction job-free.
    val group = "tables-zero-job"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        seen.incrementAndGet()
        if (Option(s.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .contains(group)) jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try {
        Tables.names.foreach(t => Tables.load(spark, sf0001, t))
        EventStreams.readEvents(spark, sf0001)
      } finally spark.sparkContext.clearJobGroup()
      // vacuity guard: the listener must see a job that does run
      spark.range(1).count()
      GraftTestHooks.drainListenerBus(spark.sparkContext)
      assert(seen.get() > 0, "no job seen: listener broken?")
      assert(jobs.get() == 0, s"${jobs.get()} Spark jobs started by table loads")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
