package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Adaptive
import graft.Ckpt._

/** Minimal distributed graph connectivity for the dedup pipeline: near-dup
  * PAIRS (q27/q36/q44/q51) become near-dup CLUSTERS, from which a training
  * corpus keeps one canonical doc per cluster.
  *
  * Min-label propagation WITH pointer jumping: every node starts labeled
  * with itself; each round a node takes the minimum label among itself, its
  * neighbors, and — the jump — its current label's own label. Fixpoint =
  * connected components (label = smallest node id in the component).
  * Neighbor propagation alone needs O(diameter) rounds (a depth-10³
  * adversarial chain = 10³ rounds); the label(label(n)) contraction halves
  * remaining label-chain depth every round, the same doubling trick as
  * pointer jumping in PRAM list ranking / the two-phase star contraction of
  * Kiveris et al. "Connected Components in MapReduce" (SoCC'14), so
  * convergence is O(log diameter) — ~12 rounds for the depth-10³ chain
  * (GraphSpec pins it ≤ 16). Near-dup clusters are small cliques (2-3
  * rounds); the cap guards pathology. The loop is driver-coordinated — the
  * standard shape for iterative algorithms on DataFrames (GraphX/
  * GraphFrames do the same under the hood):
  *  - every round localCheckpoints its result: lineage would otherwise grow
  *    by three joins per round and replan from the source each time (at
  *    cluster scale, a HDFS checkpoint or a persisted table per round);
  *  - convergence test is an isEmpty on changed labels — it short-circuits
  *    at the first changed row rather than counting them all.
  */
object Graph {

  /** Driver-local union-find with min-id representatives — exactly the
    * fixpoint of the distributed min-label propagation (component = the
    * smallest node id; attaching the larger root under the smaller keeps
    * every root the component minimum). Equality with the distributed
    * loop is pinned in GraphSpec via the forced-path impl params. */
  private[graft] def localComponents(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet.asScala.toSeq.sorted.map(n => (n, find(n)))
  }

  /** Connected components of an undirected graph given as (src, dst) edge
    * rows (direction ignored, self-loops fine). Returns (node, component)
    * where component = min node id in the component. Isolated nodes absent
    * from the edge list are absent from the output. A graph proven small
    * by [[graft.Adaptive.collectIfSmall]] runs union-find on the driver
    * (each distributed round costs ~3 scheduled jobs of pure launch and
    * checkpoint machinery on the ~160-node sf0.1 dedup graphs, O(log
    * diameter) rounds; BFS pays the same per hop). Union-find always
    * converges: `maxIters` bounds only the distributed loop. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsImpl(edges, maxIters, Adaptive.LocalMaxRows)

  /** [[connectedComponents]] with the local-path bound exposed for the
    * GraphSpec path-equality pin (-1 forces the distributed loop). */
  private[graft] def connectedComponentsImpl(edges: DataFrame,
      maxIters: Int, localMaxRows: Long): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      // ckpt(a): collectIfSmall's probe + collect jobs or each distributed round read it
      .eagerCkpt
    val sq = e.sparkSession
    import sq.implicits._
    Adaptive.collectIfSmall[(Long, Long)](e, localMaxRows) match {
      case Some(es) => localComponents(es).toDF("node", "component")
      case None => distributedComponents(e, maxIters)
    }
  }

  /** Min-label propagation with pointer jumping over the checkpointed
    * symmetrized edge list (see the object doc). */
  private def distributedComponents(e: DataFrame,
      maxIters: Int): DataFrame = {
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .eagerCkpt // ckpt(c): components loop state
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = e.join(labels, e("dst") === labels("node"))
        .select(e("src").as("node"), col("component"))
      val propagated = labels.unionByName(neighborMin)
        .groupBy("node").agg(min(col("component")).as("component"))
      // pointer jump: label(n) ← label(label(n)). Every label value is a
      // node id in the same component (init = self; propagation and jumps
      // only move along component-internal references), and that node has
      // its own row, so the lookup is a self-join on label = node. Labels
      // are monotone non-increasing, hence label(label(n)) ≤ label(n) when
      // present; left join + coalesce keeps rows whose label's row was
      // produced this same round (always present in `propagated`, but stay
      // defensive — a miss degrades to plain propagation, never corrupts).
      val lookup = propagated
        .select(col("node").as("lnode"), col("component").as("lcomp"))
      val next = propagated
        .join(lookup, col("component") === col("lnode"), "left")
        .select(col("node"), coalesce(col("lcomp"), col("component"))
          .as("component"))
        .eagerCkpt // ckpt(c): components loop state
      converged = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.component") =!= col("o.component"))
        .isEmpty
      labels = next
      iter += 1
    }
    // a silent cap-hit would return mid-propagation labels — one real
    // component reported as several, with nothing to tell the caller the
    // result is wrong. Fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds — " +
          "component diameter exceeds the cap; raise maxIters")
    labels
  }

  /** Multi-source BFS hop distances, bounded at `maxHop`: classic frontier
    * expansion with a visited-set anti join, which computes exactly
    * min-hop-distance from the seed set. Input: symmetric-or-not (a, b)
    * edges (traversal follows a→b as given — symmetrize first for
    * undirected graphs) and a (node) seed frame. Returns (node, hop) for
    * every node within `maxHop` hops, hop 0 = the seeds themselves.
    * Each round is one frontier⋈edges hash join plus an anti join against
    * the visited set; frontiers carry ids only, and every round
    * localCheckpoints (same lineage discipline as the components loop —
    * at cluster scale, persisted tables per round). The loop SHORT-
    * CIRCUITS on an empty frontier (isEmpty stops at the first row, like
    * the components convergence test) — on a shallow graph that saves
    * maxHop−depth full rounds of job overhead; `maxHop` stays the hard
    * bound. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame =
    bfsHopsImpl(edges, seeds, maxHop, Adaptive.LocalMaxRows)

  /** Driver-local BFS — the same min-hop frontier expansion as the
    * distributed loop, hop 0 = seeds. GraphSpec pins path equality. */
  private[graft] def localBfsHops(edges: Array[(Long, Long)],
      seeds: Array[Long], maxHop: Int): Seq[(Long, Int)] = {
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    edges.foreach { case (a, b) =>
      adj.computeIfAbsent(a, _ =>
        scala.collection.mutable.ArrayBuffer.empty[Long]) += b
    }
    val hop = new java.util.HashMap[Long, Int]()
    seeds.foreach(sd => hop.put(sd, 0))
    var frontier: Seq[Long] = seeds.toSeq.distinct
    var h = 1
    while (h <= maxHop && frontier.nonEmpty) {
      val next = scala.collection.mutable.LinkedHashSet.empty[Long]
      frontier.foreach { n =>
        val ns = adj.get(n)
        if (ns != null) ns.foreach(m => if (!hop.containsKey(m)) next += m)
      }
      next.foreach(m => hop.put(m, h))
      frontier = next.toSeq
      h += 1
    }
    import scala.jdk.CollectionConverters._
    hop.entrySet().asScala.toSeq
      .map(en => (en.getKey.longValue(), en.getValue.intValue()))
      .sortBy(_._1)
  }

  /** [[bfsHops]] with the local-path bound exposed for the GraphSpec
    * path-equality pin (-1 forces the distributed loop). */
  private[graft] def bfsHopsImpl(edges: DataFrame, seeds: DataFrame,
      maxHop: Int, localMaxRows: Long): DataFrame = {
    // ckpt(a): collectIfSmall's probe + collect jobs or each BFS round read it
    val e = edges.select(col("a"), col("b")).eagerCkpt
    val visited = seeds.select(col("node")).distinct()
      .withColumn("hop", lit(0))
      // ckpt(a): collectIfSmall's probe + collect jobs or each BFS round read it
      .eagerCkpt
    val sq = e.sparkSession
    import sq.implicits._
    // BOTH the seed set and the edge list must prove small: the output is
    // at least seed-sized, so a corpus-scale seed frame stays distributed
    // regardless of edge count
    val local = for {
      ss <- Adaptive.collectIfSmall[Long](visited.select(col("node")),
        localMaxRows)
      es <- Adaptive.collectIfSmall[(Long, Long)](e, localMaxRows)
    } yield localBfsHops(es, ss, maxHop)
    local match {
      case Some(hops) => hops.toDF("node", "hop")
      case None => distributedBfsHops(e, visited, maxHop)
    }
  }

  /** Frontier expansion over the checkpointed edges from the checkpointed
    * hop-0 seed frame (see [[bfsHops]]). */
  private def distributedBfsHops(e: DataFrame, seeds: DataFrame,
      maxHop: Int): DataFrame = {
    var visited = seeds
    var frontier = seeds
    var h = 1
    var done = false
    while (h <= maxHop && !done) {
      frontier = frontier
        .join(e, frontier("node") === e("a"))
        .select(col("b").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
        // ckpt(c): BFS loop state; the isEmpty job and the next round read it
        .eagerCkpt
      done = frontier.isEmpty
      // ckpt(c): BFS loop state
      if (!done) visited = visited.unionByName(frontier).eagerCkpt
      h += 1
    }
    visited
  }
}
