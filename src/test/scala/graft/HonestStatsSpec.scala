package graft

import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.Ckpt._

/** Pins the honest-checkpoint-statistics contract
  * ([[graft.Ckpt]] /
  * [[graft.plans.HonestRddStats]]): the round-13 find that the origin
  * plan's Catalyst estimate on an eager localCheckpoint runs ~100× below
  * the materialized size on exploding streams, silently steering
  * JoinSelection into gigantic broadcast builds. */
class HonestStatsSpec extends SparkSpec {

  private def explodedFrame = {
    import spark.implicits._
    // 20k rows exploding 30×: the origin estimate descends from the
    // tiny pre-explode relation, the materialized size does not
    (1 to 20000).toDF("id")
      .withColumn("xs", expr("transform(sequence(1, 30), i -> concat('payload_', id, '_', i))"))
      .select(col("id"), explode(col("xs")).as("s"))
  }

  test("eagerCkpt reports the materialized block-manager size, not the origin estimate") {
    val plain = explodedFrame.localCheckpoint(true)
    val honest = explodedFrame.eagerCkpt
    val plainBytes = GraftSql.analyzedPlan(plain).stats.sizeInBytes
    val honestBytes = GraftSql.analyzedPlan(honest).stats.sizeInBytes
    val rdd = GraftSql.analyzedPlan(honest).asInstanceOf[LogicalRDD].rdd
    val storage = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .getOrElse(fail("checkpointed RDD has no storage info"))
    assert(honestBytes == BigInt(storage.memSize + storage.diskSize),
      "honest stats must equal the block manager's materialized bytes")
    // the poisoning this guards against: the origin estimate is a small
    // fraction of reality on exploded data (observed ~1/100 on shingle
    // streams; require a conservative 5× gap so the pin survives
    // encoder/layout changes without going stale)
    assert(honestBytes > plainBytes * 5,
      s"expected materialized size ≫ origin estimate, got honest=" +
        s"$honestBytes vs origin=$plainBytes — if Spark started " +
        "propagating materialized sizes itself, eagerCkpt can retire")
  }

  test("honest stats stop JoinSelection from broadcasting a huge checkpointed side") {
    val big = explodedFrame.eagerCkpt  // ~600k rows, tens of MB materialized
    val joined = big.toDF("id_a", "s")
      .join(big.toDF("id_b", "s2"), col("s") === col("s2"))
    val plan = joined.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"a frame materialized above autoBroadcastJoinThreshold must not " +
        s"be planned as a broadcast build:\n$plan")
    // sanity: the same join over the POISONED checkpoint still
    // broadcasts (documents the failure mode this spec exists for; if
    // this stops failing, Spark fixed the estimate upstream)
    val poisoned = explodedFrame.localCheckpoint(true)
    val joinedPoisoned = poisoned.toDF("id_a", "s")
      .join(poisoned.toDF("id_b", "s2"), col("s") === col("s2"))
    assert(joinedPoisoned.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"),
      "expected the origin-estimate checkpoint to still fool " +
        "JoinSelection — if not, re-evaluate whether eagerCkpt is needed")
  }

  test("AdaptivePlan statsChild reads honest bytes through the detached-reference path") {
    val frame = explodedFrame.eagerCkpt
    val honest = graft.plans.HonestRddStats
      .fix(GraftSql.analyzedPlan(frame)).stats.sizeInBytes
    // fix() is idempotent on an already-honest node: same storage entry,
    // same bytes — the AdaptivePlanRule path applies it unconditionally
    assert(honest == GraftSql.analyzedPlan(frame).stats.sizeInBytes)
  }

  test("partial eviction scales the honest estimate to the full partition count") {
    val frame = explodedFrame.repartition(4).localCheckpoint(true)
    val lr = GraftSql.analyzedPlan(frame).asInstanceOf[LogicalRDD]
    val sc = spark.sparkContext
    // deterministically evict ONE of the four cached partitions
    org.apache.spark.GraftTestHooks.dropRddBlock(sc, lr.rdd.id, 0)
    val info = Iterator.range(0, 100).map { _ =>
        val i = sc.getRDDStorageInfo.find(_.id == lr.rdd.id).get
        if (i.numCachedPartitions == 4) Thread.sleep(50)
        i
      }.find(_.numCachedPartitions < 4)
      .getOrElse(fail("block drop never reflected in storage info"))
    assert(info.numCachedPartitions == 3 && info.numPartitions == 4)
    val cached = info.memSize + info.diskSize
    val honest = graft.plans.HonestRddStats
      .fix(GraftSql.analyzedPlan(frame)).stats.sizeInBytes
    // the contract: scale UP proportionally — an underestimate would
    // re-poison JoinSelection in exactly the direction fix() prevents
    assert(honest == BigInt(cached) * 4 / 3,
      s"expected ${BigInt(cached) * 4 / 3} (=$cached×4/3), got $honest")
    assert(honest > BigInt(cached), "scaled estimate must exceed cached bytes")
  }

  test("fix() now reaches a LogicalRDD BELOW the plan root (r13 ADVICE: mapChildren equality trap)") {
    val frame = explodedFrame.eagerCkpt
    import spark.implicits._
    // a non-root shape: Project over the checkpointed leaf — transformUp's
    // mapChildren would discard the ==-equal stats-only swap here
    val projected = frame.select($"id", $"s")
    val unfixed = org.apache.spark.sql.GraftSql.analyzedPlan(
      explodedFrame.localCheckpoint(true).select(col("id"), col("s")))
    val fixed = graft.plans.HonestRddStats
      .fix(GraftSql.analyzedPlan(projected))
    assert(fixed.stats.sizeInBytes > unfixed.stats.sizeInBytes * 5,
      s"non-root leaf not rewritten: fixed=${fixed.stats.sizeInBytes} vs " +
        s"poisoned=${unfixed.stats.sizeInBytes}")
  }

  test("AdaptivePlanRule picks the LARGE branch when the stats child reports above-threshold bytes") {
    import spark.implicits._
    val statsOf = explodedFrame.eagerCkpt // materialized: tens of MB honest
    val small = Seq(0).toDF("which")
    val large = Seq(1).toDF("which")
    // threshold 1 byte → honest bytes exceed it → LARGE branch must win
    val picked = graft.plans.AdaptivePlan
      .choose(spark, small, large, statsOf, BigInt(1))
      .collect().map(_.getInt(0)).toSeq
    assert(picked == Seq(1), s"expected the large branch (1), got $picked")
    // and the complement: an effectively-infinite threshold keeps SMALL
    val pickedSmall = graft.plans.AdaptivePlan
      .choose(spark, small, large, statsOf, BigInt(Long.MaxValue))
      .collect().map(_.getInt(0)).toSeq
    assert(pickedSmall == Seq(0), s"expected the small branch (0), got $pickedSmall")
  }
}
