package graft

import org.apache.spark.sql.GraftSql
import graft.Ckpt._

/** Dev probe: prints the Catalyst size estimates the AdaptivePlan rule
  * reads, per corpus — used to calibrate the bytes thresholds against
  * the measured row-count crossovers. Not part of the driver contract. */
object StatsProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    args.foreach { dir =>
      val sh = graft.ops.TextOps.shingles(
        Tables.documents(spark, dir), "text", 3).eagerCkpt
      val sets = graft.ops.TextOps.shingleSets(sh)
      val shStats = GraftSql.analyzedPlan(sh).stats.sizeInBytes
      val setsStats = GraftSql.analyzedPlan(sets).stats.sizeInBytes
      val shHonest = graft.plans.HonestRddStats
        .fix(GraftSql.analyzedPlan(sh)).stats.sizeInBytes
      val setsHonest = graft.plans.HonestRddStats
        .fix(GraftSql.analyzedPlan(sets)).stats.sizeInBytes
      println(s"[probe] $dir shingleRows=${sh.count()} shBytes=$shStats " +
        s"shHonestBytes=$shHonest docs=${sets.count()} " +
        s"setsBytes=$setsStats setsHonestBytes=$setsHonest")
      // round-14: exact vs sampled df-amplification (Σdf²/rows) — the
      // statistic the AmpProbe estimates; exact side for calibration and
      // estimator-accuracy evidence
      import org.apache.spark.sql.functions._
      val exact = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .agg((sum(col("df") * col("df")).cast("double") /
          sum(col("df"))).as("amp")).collect()(0).getDouble(0)
      val t0 = System.nanoTime()
      val sampled = GraftSql.ofRows(spark,
        graft.ops.TextOps.ampProbePlan(sh, 8L)).collect()(0).getDouble(0)
      val probeSec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $dir ampExact=$exact%.1f ampSampledMod8=$sampled%.1f " +
        f"probeSec=$probeSec%.2f")
    }
    spark.stop()
  }
}
