package graft

import org.apache.spark.sql.{DataFrame, GraftSql}

/** The engine's one eager checkpoint: `df.eagerCkpt` materializes the
  * frame into the block manager (`localCheckpoint(true)`) and rewraps the
  * resulting LogicalRDD with its real stored size
  * ([[graft.plans.HonestRddStats]]), so JoinSelection and the
  * AdaptivePlan thresholds read materialized truth instead of the origin
  * plan's pre-explode estimate (~100x low on shingle streams, measured --
  * low enough to turn an 866 MB self-join side into a "broadcastable"
  * build). The rewrap must happen here, at checkpoint time: once a
  * parent node captures the poisoned leaf, LogicalRDD's
  * first-param-list-only equality makes any later stats-only swap
  * invisible to mapChildren (see HonestRddStats's scaladoc).
  *
  * Every call site carries a `// ckpt(<a|b|c|e>): <reason>` tag
  * (CkptCensusSpec): (a) several consumers AQE cannot reuse, (b) a join
  * or adaptive choice that needs the honest size, (c) a lineage cut in an
  * iterative loop, (e) a nondeterministic value read by several
  * consumers. A frame with none of these reasons stays lazy. */
object Ckpt {
  implicit class CkptSyntax(private val df: DataFrame) extends AnyVal {
    def eagerCkpt: DataFrame = {
      val cp = df.localCheckpoint(true)
      GraftSql.ofRows(cp.sparkSession,
        graft.plans.HonestRddStats.fix(GraftSql.analyzedPlan(cp)))
    }
  }
}
