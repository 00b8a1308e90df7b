package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer-time choice between two exact-equivalent plans — the one
  * mechanism behind the adaptive kernel switches in
  * `TextOps.exactJaccardPairsFrom` (direct shared-shingle join vs the
  * PPJoin prefix-filtered plan) and `TextOps.simhashPairsFromSets`
  * (8-chunk join vs the 4×16-bit one-error-variant scheme).
  *
  * Deciding while the frame is BUILT would cost a Spark job per query,
  * paid even when the consumer never executes the frame. This node
  * defers the decision to the optimizer: construction is free (both
  * candidate plans are built lazily — zero jobs, TextOpsSpec pins it
  * with a listener), and when an action optimizes the consuming query
  * the rule reads the input frame's Catalyst size estimate
  * (`stats.sizeInBytes` — the SAME statistic Spark's own JoinSelection
  * consults for broadcast decisions) and collapses the node to one
  * branch. Both branches are
  * EXACT (identical output — the plan-equivalence specs), so the choice
  * is pure cost, like every other stats-driven decision the optimizer
  * already makes.
  *
  * Mechanics: a binary logical node whose children are the two complete
  * candidate plans. It rides the whole default optimizer run untouched
  * (unknown to every builtin rule, children optimized normally), then
  * the injected rule — `experimental.extraOptimizations` live-session,
  * `injectOptimizerRule` via [[graft.GraftExtensions]] — replaces it
  * with the chosen child.
  *
  * `out` pins the node's output attributes at CONSTRUCTION. This is
  * load-bearing, not bookkeeping: both branches (and often the outer
  * query) contain the same leaf relations, so the analyzer's
  * DeduplicateRelations rewrites exprIds INSIDE the children when the
  * combined plan is analyzed — an output derived from the live child
  * would drift away from the ids the outer query resolved against, and
  * the physical planner then fails binding (the round-13
  * ATTRIBUTE_NOT_FOUND on the first corpus big enough to choose the
  * prefix branch). The rule therefore always re-maps the chosen
  * branch's (possibly rewritten) output onto `out` through a Project of
  * aliases carrying the pinned ids — downstream references never
  * dangle, whichever branch wins and however analysis renamed it.
  *
  * `statsChild` is the INPUT frame both branches read (not a child of
  * this node — only its statistics are consulted). Thresholds are in
  * honest materialized bytes ([[HonestRddStats]]), calibrated per call
  * site against measured plan crossovers (the scaladoc of the TextOps
  * byte-threshold constants): the size scales linearly with the corpus,
  * exactly like the row counts the crossovers were measured in.
  */
/** Deferred data-SHAPE probe for [[AdaptivePlan]] — the round-14 answer
  * to the measured Zipfian mis-pick (BENCH_NOTES round 14): the direct
  * shared-key plans cost Σdf² (candidate mass) while the prefix/variant
  * plans stay ~linear in rows, and a byte statistic cannot tell the two
  * shapes apart (the skew1 corpus is ~30× smaller than flat sf10 in
  * bytes yet ~5× slower on the direct plan). `plan` is a PRE-BUILT lazy
  * single-row aggregate over the (already-checkpointed) key stream that
  * estimates the amplification Σdf²/rows — built at query construction
  * (zero jobs), executed by [[AdaptivePlanRule]] only when the byte
  * statistic alone cannot rule the large branch out (`floorBytes` ≤
  * bytes ≤ thresholdBytes), and cached per canonical plan so repeated
  * optimizations of the same frame pay one probe job. `ampThreshold` is
  * the measured crossover of the ratio: because both plan costs are
  * ~linear in their respective statistic, the crossover in Σdf²/rows is
  * scale-invariant, unlike any absolute threshold. */
case class AmpProbe(
    plan: LogicalPlan,
    ampThreshold: Double,
    floorBytes: BigInt)

case class AdaptivePlan(
    small: LogicalPlan,
    large: LogicalPlan,
    statsChild: LogicalPlan,
    thresholdBytes: BigInt,
    out: Seq[Attribute],
    probe: Option[AmpProbe] = None) extends LogicalPlan {
  override def children: Seq[LogicalPlan] = Seq(small, large)
  override def output: Seq[Attribute] = out
  // `out` is a Seq[Attribute] constructor field, so TreeNode reflection
  // counts it among this node's expressions — declare the attributes as
  // produced here or CheckAnalysis reports them as missing input.
  override def producedAttributes: AttributeSet = AttributeSet(out)
  // The node CONSUMES both children's outputs wholesale: without this,
  // references = expressions − produced = ∅ and the optimizer's column
  // pruning decides neither child's columns are demanded — both branch
  // tops collapse to empty Projects and the rule's remap zips to nothing
  // (the round-13 empty-Project ATTRIBUTE_NOT_FOUND). Deriving from the
  // CURRENT children keeps it consistent through analyzer rewrites.
  override lazy val references: AttributeSet =
    AttributeSet(small.output ++ large.output)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan =
    copy(small = newChildren(0), large = newChildren(1))
}

/** Collapses [[AdaptivePlan]] to its chosen branch. Runs in the
  * user-rule batch, AFTER the default optimization of both children. */
object AdaptivePlanRule extends Rule[LogicalPlan] {

  /** Probe results keyed by the probe plan's canonicalized form, so every
    * optimization pass (and every consumer) of the same checkpointed
    * frame pays the sampled-aggregate job ONCE. Bounded LRU — canonical
    * plans pin the checkpointed RDDs they reference, so an unbounded map
    * would leak block-manager memory across a long session. */
  private val probeCache =
    new java.util.LinkedHashMap[LogicalPlan, Double](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[LogicalPlan, Double]): Boolean = size() > 64
    }

  /** Execute (or recall) an [[AmpProbe]] plan: one tiny single-row
    * aggregate on the live session. Serialized under the cache lock on
    * purpose — two concurrent optimizations of the same frame should run
    * one probe job, not two. A probe failure never fails the query (both
    * branches are exact): it logs and reports amplification 0, leaving
    * the byte statistic in charge. */
  private[graft] def measuredAmp(spark: SparkSession,
      probePlan: LogicalPlan): Double = probeCache.synchronized {
    val key = probePlan.canonicalized
    if (probeCache.containsKey(key)) probeCache.get(key)
    else {
      val t0 = System.nanoTime()
      try {
        val row = org.apache.spark.sql.GraftSql.ofRows(spark, probePlan)
          .collect().headOption
        val amp = row.filter(!_.isNullAt(0)).map(_.getDouble(0)).getOrElse(0.0)
        probeCache.put(key, amp)
        amp
      } catch {
        case scala.util.control.NonFatal(e) =>
          // deliberately NOT cached: a transient failure (executor hiccup,
          // dropped block) must not pin "small branch" for the JVM's
          // lifetime — the next optimization of this frame retries
          // (VERDICT r14 #3). The current query still gets a correct
          // plan: both branches are exact, byte stats stay in charge.
          probeFailures.incrementAndGet()
          logWarning(s"AmpProbe failed, falling back to byte stats " +
            s"(uncached — will retry on next optimization): $e")
          0.0
      } finally {
        // Timing in `finally` so a FAILED probe job's wall time (it still
        // burned it before throwing) shows up in the telemetry the bench
        // reads — a catch-path-invisible probe under-reports the measured
        // probe share exactly when probes flake (ADVICE r15).
        probeRuns.incrementAndGet()
        probeNanos.addAndGet(System.nanoTime() - t0)
      }
    }
  }

  /** Test hook: number of cached probe results (probe-once evidence). */
  private[graft] def probeCacheSize: Int =
    probeCache.synchronized(probeCache.size())

  /** Probe-cost telemetry (cumulative over the JVM): how many probe JOBS
    * were attempted (cache misses that reached execution, successful OR
    * failed — failures burn wall time too, ADVICE r15), their total wall
    * time, and how many of those attempts failed. Lets a bench run report
    * the measured probe share of a query instead of estimating it
    * (VERDICT r14 directive 4). */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong
  private[graft] val probeNanos = new java.util.concurrent.atomic.AtomicLong
  private[graft] val probeFailures = new java.util.concurrent.atomic.AtomicLong

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case AdaptivePlan(small, large, statsChild, thresholdBytes, out, probe) =>
      // statsChild is a detached reference, so the tree-walking
      // HonestRddStats rule never reaches it — fix it here so the branch
      // choice reads materialized bytes, the same unit the thresholds
      // are calibrated in
      val bytes = HonestRddStats.fix(statsChild).stats.sizeInBytes
      val chosen =
        if (bytes > thresholdBytes) large
        else probe match {
          // Bytes alone say "small", but bytes cannot see df skew: above
          // the probe floor, ask the data. Below the floor both plans
          // are cheap even under worst-case skew (measured: the plans
          // TIE at skew01's 36 MB / Σdf²-per-row 75) — skip the job.
          case Some(p) if bytes >= p.floorBytes =>
            if (measuredAmp(SparkSession.active, p.plan) > p.ampThreshold)
              large
            else small
          case _ => small
        }
      // zip would silently truncate on an arity drift (a future rule
      // pruning through the node), yielding a short Project and a
      // confusing downstream ATTRIBUTE_NOT_FOUND — fail loudly instead
      require(chosen.output.length == out.length,
        s"AdaptivePlan branch output arity ${chosen.output.length} != " +
          s"pinned output arity ${out.length} — a rule rewrote the chosen " +
          s"branch's projection; pinned=${out.mkString(",")} " +
          s"branch=${chosen.output.mkString(",")}")
      if (chosen.output.map(_.exprId) == out.map(_.exprId)) chosen
      else Project(out.zip(chosen.output).map[NamedExpression] {
        case (o, n) if o.exprId == n.exprId => o
        case (o, n) => Alias(n, o.name)(exprId = o.exprId)
      }, chosen)
  }
}

object AdaptivePlan {
  /** Wrap two exact-equivalent frames as one adaptive frame. Registers
    * the rule on the live session (idempotent); the spark.sql.extensions
    * path goes through [[graft.GraftExtensions]]. */
  def choose(spark: SparkSession, small: DataFrame, large: DataFrame,
      statsOf: DataFrame, thresholdBytes: BigInt,
      probe: Option[AmpProbe] = None): DataFrame = {
    register(spark)
    val smallPlan = org.apache.spark.sql.GraftSql.analyzedPlan(small)
    org.apache.spark.sql.GraftSql.ofRows(spark, AdaptivePlan(
      smallPlan,
      org.apache.spark.sql.GraftSql.analyzedPlan(large),
      org.apache.spark.sql.GraftSql.analyzedPlan(statsOf),
      thresholdBytes,
      smallPlan.output,
      probe))
  }

  /** Install [[AdaptivePlanRule]] on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(AdaptivePlanRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AdaptivePlanRule
}
