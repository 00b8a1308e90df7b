package graft

import graft.Ckpt._
import graft.ops.TextOps

/** Dev utility (VERDICT r14 directive 4): the committed COLD/WARM A/B for
  * the Σdf²/rows amplification probe, on the driver bench path's session
  * config. The shape boards proved the probe's PLAN choice (skew1 escapes
  * the 241 s direct plan); this main pins the probe's own COST — the "~1 s
  * probe" claim — with measured numbers:
  *
  *  - COLD: first consumer of a checkpointed shingle frame pays the
  *    sampled aggregate job at optimizer time (probe cache miss).
  *  - WARM: a second consumer of the SAME frame optimizes against the
  *    probe cache (hit — zero jobs); this is the production reuse pattern
  *    (q51-style multi-consumer pipelines), and the cache is keyed on the
  *    canonicalized probe plan so it survives across queries only when
  *    they genuinely share the materialized frame.
  *  - EXEC: the chosen plan end-to-end, for the probe-share-of-total
  *    context ([[graft.plans.AdaptivePlanRule.probeRuns]] confirms no
  *    further probe ran during execution).
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProbeAb /tmp/skew1"
  */
object ProbeAb {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/skew1")
    val spark = GraftSession.local(sfDir = Some(dir))

    def runs = graft.plans.AdaptivePlanRule.probeRuns.get()
    def nanos = graft.plans.AdaptivePlanRule.probeNanos.get()
    def fails = graft.plans.AdaptivePlanRule.probeFailures.get()
    def secs(n: Long): Double = n / 1e9

    // the q27/q44 frame: checkpointed word-3-gram shingles
    val tCk0 = System.nanoTime()
    val sh = TextOps.shingles(Tables.documents(spark, dir), "text", 3).eagerCkpt
    val ckptSec = secs(System.nanoTime() - tCk0)

    // COLD: optimizing the first consumer triggers the probe job
    val q1 = TextOps.exactJaccardPairsFrom(sh, 0.5)
    val (r0, n0) = (runs, nanos)
    val tC0 = System.nanoTime()
    q1.queryExecution.optimizedPlan
    val coldSec = secs(System.nanoTime() - tC0)
    val coldProbeRuns = runs - r0
    val coldProbeSec = secs(nanos - n0)

    // WARM: a second consumer of the same frame must hit the cache
    val q2 = TextOps.exactJaccardPairsFrom(sh, 0.9)
    val (r1, n1) = (runs, nanos)
    val tW0 = System.nanoTime()
    q2.queryExecution.optimizedPlan
    val warmSec = secs(System.nanoTime() - tW0)
    val warmProbeRuns = runs - r1
    val warmProbeSec = secs(nanos - n1)

    // context: the chosen plan end-to-end (no probe may run here)
    val r2 = runs
    val tE0 = System.nanoTime()
    val nPairs = q1.count()
    val execSec = secs(System.nanoTime() - tE0)
    val execProbeRuns = runs - r2

    println(f"""{"dir":"$dir","ckpt_sec":$ckptSec%.3f,""" +
      f""""cold_optimize_sec":$coldSec%.3f,"cold_probe_runs":$coldProbeRuns,""" +
      f""""cold_probe_sec":$coldProbeSec%.3f,""" +
      f""""warm_optimize_sec":$warmSec%.3f,"warm_probe_runs":$warmProbeRuns,""" +
      f""""warm_probe_sec":$warmProbeSec%.3f,""" +
      f""""exec_sec":$execSec%.3f,"exec_probe_runs":$execProbeRuns,""" +
      f""""probe_failures":$fails,"pairs":$nPairs}""")
    spark.stop()
  }
}
