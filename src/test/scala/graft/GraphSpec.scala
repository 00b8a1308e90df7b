package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, clique and separate pair resolve to min-id components") {
    // chain 1-2-3-4 (diameter 3 — needs multiple propagation rounds),
    // clique 10-11-12, pair 20-21
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("edge direction and duplicates are irrelevant; self-loops tolerated") {
    val got = cc(Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 7L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 7L))
  }

  test("long path converges within the diameter bound") {
    // path 0-1-2-...-12: worst case for label propagation
    val got = cc((0L until 12L).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(0L))
    assert(got.size == 13)
  }

  test("adversarial depth-1000 chain converges in O(log diameter) rounds") {
    // pointer jumping halves label-chain depth per round: a diameter-1000
    // path must resolve well inside 16 rounds (plain propagation would need
    // 1000 and trip the cap — the cap IS the round-budget assertion here)
    val edges = (0L until 1000L).map(i => (i, i + 1)).toDF("src", "dst")
    // forced DISTRIBUTED path (localMaxRows = 0): the round-18 adaptive
    // local path would otherwise absorb this graph and the round-budget
    // assertion (the maxIters cap) would pin nothing
    val got = Graph.connectedComponentsImpl(edges, maxIters = 16,
        localMaxRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1001)
    assert(got.values.toSet == Set(0L))
  }

  test("cc + bfs: driver-local and distributed paths return identical " +
    "frames (round 18 adaptive path)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // chains, cliques, self-loops, duplicate/reversed edges, an island —
    // the same fixture family the behavioral tests above use — plus an
    // empty edge list, a lone self-loop and seeded random graphs, compared
    // path against path (-1 forces the distributed loop even on an empty
    // edge list, whose 0 rows would pass a 0 bound)
    val fixture = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (5L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (11L, 10L), (20L, 21L),
      (21L, 20L), (30L, 31L))
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    val random = (1L to 6L).map(i =>
      edgeGen.pureApply(Gen.Parameters.default, Seed(i)))
    def rows(df: DataFrame) = df.collect()
      .map(_.toSeq.map { case n: Number => n.longValue; case x => x }).toSet
    def keyType(df: DataFrame) = df.schema.head.dataType
    (Seq(fixture, Seq.empty[(Long, Long)], Seq((5L, 5L))) ++ random)
        .foreach { edges =>
      val df = edges.toDF("src", "dst")
      val dist = Graph.connectedComponentsImpl(df, 50, localMaxRows = -1L)
      val local = Graph.connectedComponentsImpl(df, 50,
        localMaxRows = Long.MaxValue)
      val (d, lo) = (rows(dist), rows(local))
      assert(d == lo, s"cc on $edges: distributed $d != local $lo")
      assert(dist.schema.map(_.dataType) == local.schema.map(_.dataType))
      // Int-keyed edges cannot take the Long-typed local path: they fall
      // back to the distributed loop (Int output) with the same answer
      val intDf = edges.map { case (a, b) => (a.toInt, b.toInt) }
        .toDF("src", "dst")
      val intCc = Graph.connectedComponentsImpl(intDf, 50,
        localMaxRows = Long.MaxValue)
      assert(keyType(intCc) == IntegerType && rows(intCc) == lo)
      val raw = df.toDF("a", "b")
      val bEdges = raw.union(raw.select(col("b").as("a"), col("a").as("b")))
      val first = edges.headOption.fold(0L)(_._1)
      // a two-row and a one-row seed set
      Seq(Seq(first, 30L), Seq(first)).foreach { seedIds =>
        val seeds = seedIds.toDF("node")
        val bDist = Graph.bfsHopsImpl(bEdges, seeds, 3, localMaxRows = -1L)
        val bLocal = Graph.bfsHopsImpl(bEdges, seeds, 3,
          localMaxRows = Long.MaxValue)
        val (bd, bl) = (rows(bDist), rows(bLocal))
        assert(bd == bl,
          s"bfs on $edges from $seedIds: distributed $bd != local $bl")
        assert(keyType(bLocal) == LongType &&
          bDist.schema.map(_.dataType) == bLocal.schema.map(_.dataType))
        val intBfs = Graph.bfsHopsImpl(
          bEdges.select(col("a").cast("int"), col("b").cast("int")),
          seedIds.map(_.toInt).toDF("node"), 3, localMaxRows = Long.MaxValue)
        assert(keyType(intBfs) == IntegerType && rows(intBfs) == bl)
      }
    }
  }

  test("default bounds keep the registry's own frames at sf0.001 on the " +
    "driver-local paths (CC, BFS, PageRank, BPE)") {
    // collectIfSmall's typed collect runs only on the local path, and its
    // job's call site names Adaptive.scala: count those jobs per query,
    // attributed by a per-query job group. BFS collects its seeds and its
    // edges; the others collect once.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val want = Seq("q79_dedup_clusters" -> 1, "q217_contamination_bfs" -> 2,
      "q259_bipartite_audit" -> 3, "q314_dedup_pagerank" -> 1,
      "q142_bpe_merges" -> 1)
    val collects = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.stageInfos.exists(_.name.startsWith("collect at Adaptive.scala")))
          collects.merge(Option(s.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse(""), 1, (a, b) => a + b)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      want.foreach { case (name, _) =>
        spark.sparkContext.setJobGroup(s"local-path-$name", name)
        try SparkEntry.queries(name)(spark, sf0001).collect()
        finally spark.sparkContext.clearJobGroup()
      }
      Thread.sleep(1000) // listener bus drain window
      want.foreach { case (name, n) =>
        val got = collects.getOrDefault(s"local-path-$name", 0)
        assert(got == n, s"$name: $got driver-local collects, want $n")
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("bfsHops: Int seeds with Long edges fall back to the distributed " +
    "loop and match its answer") {
    // the local path reads seeds with getLong; an IntegerType seed column
    // must take the distributed loop, not throw ClassCastException
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (30L, 31L))
      .toDF("a", "b")
    val edges = raw.union(raw.select(col("b").as("a"), col("a").as("b")))
    def hops(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Number](0).longValue -> r.getInt(1)).toSet
    val want = hops(Graph.bfsHopsImpl(edges, Seq(1L, 30L).toDF("node"), 3,
      localMaxRows = 0L))
    val got = hops(Graph.bfsHopsImpl(edges, Seq(1, 30).toDF("node"), 3,
      localMaxRows = Long.MaxValue))
    assert(got == want)
    assert(want == Set(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 30L -> 0, 31L -> 1))
  }

  test("property: components match a reference union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small node universe forces dense/merging components; fixed seed for
    // reproducible runs, few trials (each runs distributed propagation)
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-id normalization (path-compress to the final roots first)
      parent.keys.toSeq.foreach(find)
      parent.keys.map(k => k -> find(k)).toMap
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      Prop.forAll(edgeGen) { edges =>
        edges.isEmpty || cc(edges) == unionFind(edges)
      })
    assert(res.passed, res.status.toString)
  }

  test("q79 accounting consistent with the exact pair list") {
    val pairs = graft.ops.TextOps.exactJaccardPairs(spark, sf0001, 0.5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = Graph.connectedComponents(pairs)
    val nodes = pairs.select(col("src").as("n"))
      .union(pairs.select(col("dst").as("n"))).distinct().count()
    assert(comp.count() == nodes) // every paired doc gets a component
    val r = SparkEntry.queries("q79_dedup_clusters")(spark, sf0001).head()
    assert(r.getAs[Long]("n_docs_in_clusters") == nodes)
    assert(r.getAs[Long]("n_clusters") ==
      comp.select("component").distinct().count())
  }

  test("bfsHops: min-hop on a chain with a shortcut, bounded, visited-once") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 plus shortcut 1-4: node 4 is hop 1 (not 3),
    // 5 is hop 2, 6 is hop 3; 9-10 is a disconnected island (absent)
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 4L), (9L, 10L)).toDF("a", "b")
    val edges = raw.union(raw.select(col("b").as("a"), col("a").as("b")))
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, maxHop = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2, 6L -> 3))
    // hop bound respected: maxHop 1 stops at the 1-hop shell
    val shell = Graph.bfsHops(edges, seeds, maxHop = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(shell == Map(1L -> 0, 2L -> 1, 4L -> 1))
    // multi-source: seeds {1, 10} reach the island too
    val multi = Graph.bfsHops(edges, Seq(1L, 10L).toDF("node"), maxHop = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi(9L) == 1 && multi(10L) == 0)
  }

  test("q230 keep-set partitions exactly q79's clusters") {
    val reps = SparkEntry.queries("q230_dedup_keep_set")(spark, sf0001)
      .collect()
    val q79 = SparkEntry.queries("q79_dedup_clusters")(spark, sf0001).head()
    assert(reps.length == q79.getAs[Long]("n_clusters"))
    assert(reps.map(_.getAs[Long]("sz")).sum ==
      q79.getAs[Long]("n_docs_in_clusters"))
    val lens = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    reps.foreach { r =>
      assert(r.getAs[Long]("sz") >= 2, "a cluster needs at least a pair")
      // representative carries its own length, and the dropped checksum
      // excludes exactly the representative
      assert(lens(r.getAs[Long]("rep_doc")) == r.getAs[Long]("rep_chars"))
      assert(r.getAs[Long]("dropped_checksum") >= 0)
    }
  }
}
