package graft

import graft.streaming.{EventStreams, TwsSessions}
import org.apache.spark.sql.functions._

/** EventStreams.run — the one place a streaming run starts, scopes its
  * session confs and stops: a throwing feed leaves no active query and
  * every scoped conf as it was; the RocksDB provider is scoped exactly to
  * transformWithState frames; the declared width is a ceiling. */
class StreamHarnessSpec extends SparkSpec {

  private val provider = "spark.sql.streaming.stateStore.providerClass"
  private val scoped = Seq("spark.sql.shuffle.partitions",
    "spark.sql.files.minPartitionNum", provider)

  private def memory(name: String)(
      w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =
    w.outputMode("append").format("memory").queryName(name)

  test("a throwing feed stops the query and restores every scoped conf") {
    // one scoped key with a prior value, one without
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    spark.conf.unset("spark.sql.files.minPartitionNum")
    try {
      val before = scoped.map(spark.conf.getOption)
      assert(before(1).isEmpty)
      val e = intercept[IllegalStateException] {
        EventStreams.run(spark,
          TwsSessions.run(spark, EventStreams.readEvents(spark, sf0001)).toDF(),
          Some(2))(memory("t_harness_throw")) { _ =>
          assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
          throw new IllegalStateException("feed failed")
        }
      }
      assert(e.getMessage == "feed failed")
      assert(spark.streams.active.isEmpty, "the harness left a query running")
      assert(scoped.map(spark.conf.getOption) == before)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("the RocksDB provider is scoped to transformWithState frames only") {
    val before = spark.conf.getOption(provider)
    def providerInFeed(df: org.apache.spark.sql.DataFrame, name: String) =
      EventStreams.run(spark, df)(memory(name)) { q =>
        q.processAllAvailable()
        spark.conf.getOption(provider)
      }
    assert(providerInFeed(
      TwsSessions.run(spark, EventStreams.readEvents(spark, sf0001)).toDF(),
      "t_harness_tws").exists(_.endsWith(".RocksDBStateStoreProvider")))
    assert(providerInFeed(
      EventStreams.tumblingDaily(EventStreams.readEvents(spark, sf0001)),
      "t_harness_plain") == before)
    assert(spark.conf.getOption(provider) == before)
  }

  test("the declared stream width is a ceiling on the session's") {
    // q180's shape: purchases join the broadcast customer dimension into a
    // complete-mode segment aggregate, declared at width 8
    val dim = broadcast(Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment")))
    val enriched = EventStreams.readEvents(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val width = EventStreams.run(spark, enriched, Some(8))(
      _.outputMode("complete").format("memory").queryName("t_harness_width")) {
      q =>
        q.processAllAvailable()
        q.lastProgress.stateOperators(0).numShufflePartitions
    }
    assert(width == 4L, s"a width-8 declaration ran $width state partitions " +
      "on a 4-partition session")
  }
}
