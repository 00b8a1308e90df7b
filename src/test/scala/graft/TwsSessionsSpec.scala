package graft

import graft.streaming.{EventStreams, StatefulSessions, TwsSessions}
import org.apache.spark.sql.functions._

/** transformWithState sessionizer parity against the shared fold's batch
  * references: sessions closed by a later event always emitted,
  * watermark-expired tails emitted once, nothing else. */
class TwsSessionsSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select(col("user_id"), col("session_start").cast("string").as("st"),
      col("n_events"), round(col("total_value"), 2).as("total_value"))
    .collect().map(_.toSeq).toSet

  test("transformWithState emits closed sessions plus expired tails (RocksDB store)") {
    // EventStreams.run scopes the RocksDB provider the API requires
    val got = canon(EventStreams.runToMemory(spark,
      TwsSessions.run(spark, EventStreams.readEvents(spark, sf0001)).toDF(),
      "t_tws_sessions", outputMode = "append"))
    val closedByEvent = canon(StatefulSessions.batchReference(spark,
      Tables.events(spark, sf0001), includeOpen = false))
    val all = canon(StatefulSessions.batchReference(spark,
      Tables.events(spark, sf0001), includeOpen = true))
    assert(closedByEvent.subsetOf(got),
      s"missing closed sessions: ${closedByEvent -- got}")
    assert(got.subsetOf(all), s"phantom sessions: ${got -- all}")
    assert(got.size > closedByEvent.size)
  }
}
