package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** EventStreams.runFolded — the O(1)-driver parity fold (round 9): each
  * micro-batch reduces EXECUTOR-side to one row of batch-additive BIGINT
  * aggregates; the driver folds only those values, never the row stream.
  * Pins (a) cross-batch additivity on a genuinely multi-batch feed,
  * (b) the BIGINT-only sink-schema assertion, and (c) that the refitted
  * parity queries (q106/q114/q267) no longer register row-level memory
  * sink tables — the round-8 scale weak mark this helper closed. */
class StreamingFoldSpec extends SparkSpec {
  import spark.implicits._

  test("folds across multiple micro-batches additively") {
    val root = java.nio.file.Files.createTempDirectory("graft_fold")
    val (inDir, raw) = EventStreams.fileReplay(spark,
      (1 to 10).map(i => (i.toLong, i.toLong * 2)).toDF("a", "b"), root)
    val totals = EventStreams.runFolded(spark, raw,
      Seq(count(lit(1)), sum(col("b")).cast("long"),
        // null partial (sum over an all-null batch column) folds as 0
        sum(when(col("a") > 1000, col("b"))).cast("long"),
        // a bit_xor aggregate folds with ^ across batches, not +
        bit_xor(col("b")).cast("long")),
      feed = { q =>
        q.processAllAvailable()
        EventStreams.landFile(
          (11 to 15).map(i => (i.toLong, i.toLong * 2)).toDF("a", "b"),
          inDir, "f2")
        q.processAllAvailable()
      })
    assert(totals == Seq(15L, (1 to 15).map(_ * 2L).sum, 0L,
        (1 to 15).map(_ * 2L).reduce(_ ^ _)),
      s"cross-batch fold mismatch: $totals")
  }

  test("rejects non-BIGINT aggregates loudly (the O(1) sink-schema pin)") {
    val root = java.nio.file.Files.createTempDirectory("graft_fold_bad")
    val (_, raw) = EventStreams.fileReplay(spark,
      Seq((1L, 2.0), (2L, 3.5)).toDF("a", "b"), root)
    val e = intercept[Exception] {
      // sum(double) is DoubleType — not batch-additive in exact terms and
      // outside the declared sink schema; must fail the stream, not fold
      EventStreams.runFolded(spark, raw, Seq(sum(col("b"))))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("BIGINT")),
      s"expected the BIGINT contract failure, got: ${messages(e)}")
  }

  test("parity harness queries leave no row-level memory sink tables") {
    val d = "/root/testdata/sf0.001"
    SparkEntry.queries("q106_stream_dedup")(spark, d).collect()
    SparkEntry.queries("q114_stream_join")(spark, d).collect()
    SparkEntry.queries("q267_stream_outer_join")(spark, d).collect()
    // q145/q146 (round 10): the last row-level sinks — their full MATCH
    // lists used to land in memory tables; now the batch side carries the
    // oracle list and the stream folds to count+checksum via runFolded
    SparkEntry.queries("q145_stream_pattern")(spark, d).collect()
    SparkEntry.queries("q146_stream_attribution")(spark, d).collect()
    Seq("q106_dedup", "q106_feed", "q114_attr", "q267_soj",
        "q145_pat", "q146_attr").foreach { t =>
      assert(!spark.catalog.tableExists(t),
        s"row-level memory sink '$t' reappeared — the parity harness " +
          "must fold to O(1) driver rows (EventStreams.runFolded)")
    }
  }
}
