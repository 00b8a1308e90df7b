package graft

import graft.ops.Profiling
import org.apache.spark.sql.functions._

class ProfilingSpec extends SparkSpec {

  private def run(name: String) =
    Profiling.queries.find(_.name == name).get.fn(spark, sf0001)

  test("mutual info: MI bounds, chi2 >= 0, Cramér's V in [0,1]") {
    val r = run("q138_mutual_info").collect().head
    val mi = r.getAs[Double]("mi_nats")
    val chi2 = r.getAs[Double]("chi2")
    val v = r.getAs[Double]("cramers_v")
    val kx = r.getAs[Long]("n_langs")
    val ky = r.getAs[Long]("n_sources")
    assert(mi >= 0.0, "MI is non-negative")
    // MI <= ln(min(kx, ky)) — the entropy ceiling of the smaller margin
    assert(mi <= math.log(math.min(kx, ky).toDouble) + 1e-9)
    assert(chi2 >= 0.0)
    assert(v >= 0.0 && v <= 1.0 + 1e-9)
  }

  test("mutual info: independent columns score ~0 on a constructed frame") {
    // lang independent of source by construction → MI == 0 exactly
    // (p_xy == p_x·p_y for every cell when counts factorize)
    import spark.implicits._
    // lang cycles with period 2, source with period 8/2 = 4 on the OTHER
    // index bits — over 80 = 8·10 rows every (lang, source) cell holds
    // exactly 10 rows, so counts factorize exactly
    val docs = (0 until 80).map(i => (i.toLong, "t", Seq("a", "b")(i % 2),
      Seq("s1", "s2", "s3", "s4")((i / 2) % 4), 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val c = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_xy"))
    val n = 80.0
    val cells = c.collect()
    assert(cells.length == 8 && cells.forall(_.getAs[Long]("n_xy") == 10L))
    val mi = cells.map { r =>
      val pxy = r.getAs[Long]("n_xy") / n
      // margins: 40 per lang, 20 per source
      pxy * math.log(pxy / ((40 / n) * (20 / n)))
    }.sum
    assert(math.abs(mi) < 1e-12)
  }

  test("pmi: selection is by count, values recompute from the count tables") {
    val rows = run("q139_pmi_collocations").collect()
    assert(rows.length == 100)
    val counts = rows.map(_.getAs[Long]("c_ab")).toSeq
    assert(counts == counts.sorted.reverse, "ordered by count desc")
    // every emitted bigram is two non-empty tokens joined by one space
    rows.foreach { r =>
      val parts = r.getAs[String]("bg").split(" ")
      assert(parts.length == 2 && parts.forall(_.nonEmpty))
    }
  }

  test("markov stationary: ranks form a distribution and respect the chain") {
    val rows = run("q140_markov_stationary").collect()
    val ranks = rows.map(_.getAs[Double]("rank"))
    assert(rows.length >= 2)
    // rounded components still sum to 1 within rounding slack
    assert(math.abs(ranks.sum - 1.0) < 1e-4 * rows.length)
    assert(ranks.forall(r => r > 0 && r < 1))
    // teleport floor: no node falls below 0.15/N
    assert(ranks.forall(_ >= 0.15 / rows.length - 1e-9))
  }

  test("markov stationary: power iteration converged (12 vs 13 iters agree)") {
    // on a 5-node chain 12 iterations are deep enough that one more no
    // longer moves any component beyond the emitted 1e-6 resolution's
    // order of magnitude (0.85^12 ≈ 0.14 of the initial gap, and the gap
    // itself contracts per iteration)
    val r12 = ops.Profiling.stationary(spark, sf0001, 12)
    val r13 = ops.Profiling.stationary(spark, sf0001, 13)
    val diff = r12.select(col("event_type"), col("rank").as("r12"))
      .join(r13.select(col("event_type"), col("rank").as("r13")), "event_type")
      .select(max(abs(col("r12") - col("r13"))).as("d")).head().getDouble(0)
    assert(diff <= 2e-4, s"iteration 13 moved ranks by $diff")
  }

  test("bpe: space-wrapped replace implements greedy left-to-right merging") {
    // the encoding lemma q142 rests on: in ' a  a  a ', merging (a,a)
    // must pair the FIRST two symbols and leave the third — and the
    // double-space wrapping must keep the survivor's separators intact
    val out = spark.sql(
      "SELECT replace(' a  a  a ', ' a  a ', ' aa ') AS s").head().getString(0)
    assert(out == " aa  a ", s"got '$out'")
    // non-chaining pairs merge everywhere in one pass
    val out2 = spark.sql(
      "SELECT replace(' x  y  x  y ', ' x  y ', ' xy ') AS s")
      .head().getString(0)
    assert(out2 == " xy  xy ", s"got '$out2'")
  }

  test("bpe: merge trace is deterministic with non-increasing pair counts") {
    val rows = ops.Profiling.bpeMerges(spark, sf0001, 6).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Int]("merge_rank")).toSeq == (1 to 6))
    val counts = rows.map(_.getAs[Long]("pair_count")).toSeq
    // each step merges the CURRENT argmax; merging can only shrink
    // existing pair counts, and pairs born of a merge inherit at most its
    // count — so the trace is non-increasing
    assert(counts == counts.sorted.reverse, s"counts not monotone: $counts")
    assert(counts.forall(_ >= 1))
    rows.foreach { r =>
      assert(r.getAs[String]("lhs").nonEmpty && r.getAs[String]("rhs").nonEmpty)
    }
    // determinism: an identical second run yields the identical trace
    val again = ops.Profiling.bpeMerges(spark, sf0001, 6).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("bpe: all-hapax corpus — every pair count 1, lexicographic argmax, " +
    "incremental counts stay exact (round 17)") {
    // the blob-shape adversary in miniature: every pair occurs exactly
    // once, so no merge ever helps and the argmax is decided purely by
    // the lexicographic tie-break. The incremental pair-count maintenance
    // must return the same trace a full recompute would: count-1 rules in
    // pair-string order, one per iteration, never exhausting early.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_hapax")
    try {
      Seq("zy xw vu").toDF("text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = ops.Profiling.bpeMerges(spark, dir.toString, 3).collect()
      assert(rows.map(r => (r.getAs[Int]("merge_rank"),
        r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[Long]("pair_count"))).toSeq ==
        Seq((1, "v", "u", 1L), (2, "x", "w", 1L), (3, "z", "y", 1L)))
    } finally graft.streaming.EventStreams.wipe(dir)
  }

  test("bpe: driver-local and distributed merge loops return the identical " +
    "trace (round 17 adaptive path)") {
    // the adaptive small-vocab path (Profiling.localBpeMerges) must be
    // value-identical to the distributed incremental loop: same counts,
    // same argmax, same tie-break — including UTF-8-byte-order ties on
    // supplementary-plane symbols, where Java's UTF-16 compareTo and
    // Spark's UTF8String binary order would diverge if the local
    // comparator were naive
    import spark.implicits._
    val rng = new scala.util.Random(4217)
    val alphabet = "abcxyz" + "😀😁" // incl. 2 emoji
    def randDoc(): String = Seq.fill(3 + rng.nextInt(5)) {
      val cps = alphabet.codePoints().toArray
      Seq.fill(2 + rng.nextInt(4))(
        new String(Character.toChars(cps(rng.nextInt(cps.length))))).mkString
    }.mkString(" ")
    // merges per corpus stay below pair exhaustion (BOTH paths throw on an
    // exhausted pair table by contract — that equality isn't under test)
    val corpora = Seq(
      (Seq.fill(30)(randDoc()), 4),      // random mixed-plane tokens
      (Seq("zy xw vu"), 3),              // the all-hapax adversary
      (Seq("aa aa ab", "ab ba aa"), 3),  // heavy ties
      (Seq("abab"), 2))                  // a one-row vocabulary
    corpora.zipWithIndex.foreach { case ((docs, merges), i) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_bpe_ab_$i")
      try {
        docs.toDF("text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val dist = ops.Profiling
          .bpeMergesImpl(spark, dir.toString, merges, localMaxTypes = -1L)
          .collect().map(_.toSeq).toSeq
        val local = ops.Profiling
          .bpeMergesImpl(spark, dir.toString, merges,
            localMaxTypes = Long.MaxValue)
          .collect().map(_.toSeq).toSeq
        assert(dist == local, s"corpus $i: distributed $dist != local $local")
      } finally graft.streaming.EventStreams.wipe(dir)
    }
  }

  test("dedup pagerank: driver-local and distributed power iterations " +
    "return the identical fixed-point trace (round 18 adaptive path)") {
    // the adaptive small-graph path (Profiling.localPagerank) must be
    // bit-identical to the distributed 5-iteration loop: same exact
    // integer floor-division arithmetic, same per-destination sums, same
    // node set (every node has deg ≥ 1 by construction). Fixture: a
    // triple of identical docs, a superset doc 13 that near-dups all
    // three, a doc 14 that near-dups ONLY 13 (J vs the triple = 3/7 <
    // 0.5), a detached pair, and a singleton — a NON-regular graph
    // (degrees 1, 2, 4, 5), so the rank values genuinely differ across
    // nodes and iterations; a regular graph would sit at the 1000000
    // fixed point and mask an arithmetic divergence.
    import spark.implicits._
    val docs = Seq(
      (10L, "aa bb cc dd ee ff gg"),
      (11L, "aa bb cc dd ee ff gg"),
      (12L, "aa bb cc dd ee ff gg"),
      (13L, "aa bb cc dd ee ff gg hh ii"),
      (14L, "cc dd ee ff gg hh ii"),
      (20L, "pp qq rr ss tt uu"),
      (21L, "pp qq rr ss tt uu"),
      (30L, "xx yy zz ww vv uu ii jj"))
    // Also: a corpus with no near-dup pair (empty graph), seeded random
    // template-plus-edit corpora, and every corpus again with Int doc ids,
    // which cannot take the Long-typed local path — they fall back to the
    // distributed loop (Int doc_id) and must give the same answer.
    def randomCorpus(seed: Int) = {
      val rng = new scala.util.Random(seed)
      val words = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      val templates = Seq.fill(3)(Seq.fill(8)(words(rng.nextInt(8))))
      (1L to 14L).map { id =>
        val t = templates(rng.nextInt(3))
        val edited = if (rng.nextBoolean()) t.updated(rng.nextInt(8), "zz")
          else t
        (id, edited.mkString(" "))
      }
    }
    val corpora = Seq(docs,
      Seq((1L, "aa bb cc dd"), (2L, "ee ff gg hh"))) ++
      (1 to 3).map(randomCorpus)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map { case n: Number => n.longValue; case x => x }).toSeq
    corpora.zipWithIndex.foreach { case (corpus, i) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_pr_ab_$i")
      val intDir = java.nio.file.Files.createTempDirectory(s"graft_pr_int_$i")
      try {
        corpus.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        corpus.map { case (id, t) => (id.toInt, t) }.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$intDir/documents.parquet")
        val dist = ops.Profiling
          .dedupPagerankImpl(spark, dir.toString, localMaxEdges = -1L)
        val local = ops.Profiling.dedupPagerankImpl(spark, dir.toString,
          localMaxEdges = Long.MaxValue)
        val intKeyed = ops.Profiling.dedupPagerankImpl(spark,
          intDir.toString, localMaxEdges = Long.MaxValue)
        val (d, lo, ik) = (rows(dist), rows(local), rows(intKeyed))
        // corpus 1 has no near-dup pair; every other one has edges
        assert(lo.isEmpty == (i == 1), s"corpus $i: graph nodes $lo")
        if (i == 0) assert(lo.map(_.last).distinct.size > 1,
          s"fixture graph is rank-degenerate: $lo")
        assert(d == lo, s"corpus $i: distributed $d != local $lo")
        assert(dist.schema.map(_.dataType) == local.schema.map(_.dataType))
        assert(intKeyed.schema.head.dataType ==
          org.apache.spark.sql.types.IntegerType)
        assert(ik == lo, s"corpus $i: Int-keyed $ik != local $lo")
      } finally {
        graft.streaming.EventStreams.wipe(dir)
        graft.streaming.EventStreams.wipe(intDir)
      }
    }
  }

  test("triangles: K4 has 4, a chain has 0, counts match closed forms") {
    import spark.implicits._
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles, wedges = 4·C(3,2) = 12,
    // cc = 3·4/12 = 1.0 — and every degree ties, exercising the id
    // tie-break in the orientation
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val rk = ops.Profiling.triangleStats(k4).head()
    assert(rk.getAs[Long]("n_nodes") == 4 && rk.getAs[Long]("n_edges") == 6)
    assert(rk.getAs[Long]("n_triangles") == 4, s"K4 triangles: $rk")
    assert(rk.getAs[Long]("n_wedges") == 12)
    assert(rk.getAs[Double]("global_cc") == 1.0)
    // a 5-chain: zero triangles, wedges only at the 3 interior nodes
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val rc = ops.Profiling.triangleStats(chain).head()
    assert(rc.getAs[Long]("n_triangles") == 0)
    assert(rc.getAs[Long]("tri_checksum") == 0)
    assert(rc.getAs[Long]("n_wedges") == 3)
    assert(rc.getAs[Double]("global_cc") == 0.0)
  }

  test("bigram lm: every doc with >=2 tokens scored, xent positive") {
    val rows = run("q141_bigram_lm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") >= 1)
      // −ln of a probability strictly below 1 ⇒ positive score; a mixture
      // weight can make p == 1 only in a one-token-vocabulary corpus
      assert(r.getAs[Double]("lm_xent") >= 0.0)
    }
    // scoring is over bigrams: n_bigrams == n_tokens − 1 per doc
    val t = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(split(trim(lower(col("text"))), "[ \\t\\n\\f\\r]+")).as("nt"))
      .filter(col("nt") > 1)
    val joined = t.join(
      run("q141_bigram_lm").select(col("doc_id"), col("n_bigrams")), "doc_id")
    assert(joined.filter(col("n_bigrams") =!= col("nt") - 1).count() == 0)
  }

  test("q155 bpe encode: totals equal a driver-side replay of the encoder") {
    // independent reference: re-tokenize the corpus in plain Scala, apply
    // the SAME merge rules via String.replace (greedy left-to-right non-
    // overlapping — the java.lang semantics the SQL replace shares), and
    // compare per-source totals against the engine's aggregates
    val rules = ops.Profiling.bpeMerges(spark, sf0001, 6).collect()
      .sortBy(_.getAs[Int]("merge_rank"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    def symbols(tok: String): Int = {
      val enc = " " + tok.toCharArray.map(_.toString).mkString("  ") + " "
      val merged = rules.foldLeft(enc) { case (s, (a, b)) =>
        s.replace(s" $a  $b ", s" $a$b ")
      }
      merged.trim.split("  ").length
    }
    assert(rules.length == 6, "trainer must yield all six merge rules")
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).trim.toLowerCase
          .split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty)
        (r.getString(0), (1L, toks.length.toLong,
          toks.map(symbols(_).toLong).sum, toks.map(_.length.toLong).sum))
      }
    val expected = docs
      .groupMapReduce(_._1)(t => (t._2._1, t._2._2, t._2._3))(
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val got = run("q155_bpe_encode").collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_symbols")))).toMap
    assert(got == expected)
    // the learned merges actually FIRED corpus-wide: strictly fewer
    // symbols than raw characters (a zero-merge encode would leave every
    // token at one symbol per character and make the replay comparison
    // above a vacuous encode-of-nothing check)
    val totalChars = docs.map(_._2._4).sum
    val totalSymbols = got.values.map(_._3).sum
    assert(totalSymbols < totalChars,
      s"no merge fired: $totalSymbols symbols vs $totalChars chars")
  }

  test("triangleStats: empty edge list yields all-zero stats, not NULLs") {
    // matches the q144 oracle's coalesce(sum(...), 0): an SF where the
    // near-dup pair set is empty must hash the same zero row, and a NULL
    // n_wedges would also null global_cc through the `otherwise` branch
    import spark.implicits._
    val r = Profiling.triangleStats(
      Seq.empty[(Long, Long)].toDF("a", "b")).collect().head
    assert(r.getAs[Long]("n_nodes") == 0L)
    assert(r.getAs[Long]("n_edges") == 0L)
    assert(r.getAs[Long]("n_wedges") == 0L)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Long]("tri_checksum") == 0L)
    assert(r.getAs[Double]("global_cc") == 0.0)
  }

  test("localClustering: clique corners score 1.0, star center and chain 0.0") {
    import spark.implicits._
    // K4: every vertex sits in 3 of the 4 triangles, deg 3 → cc = 1.0
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val rk = Profiling.localClustering(k4, 10).collect()
    assert(rk.length == 4)
    rk.foreach { r =>
      assert(r.getAs[Long]("degree") == 3 && r.getAs[Long]("n_tri") == 3)
      assert(r.getAs[Double]("local_cc") == 1.0)
    }
    // star K1,4 + one rim edge: center 1 gains exactly ONE triangle out of
    // deg-4·3/2 = 6 possible wedge closures; rim pair scores 1.0
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L))
      .toDF("a", "b")
    val rs = Profiling.localClustering(star, 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("local_cc"))).toMap
    assert(rs(1L) == ((4L, 1L, 0.166667))) // round(2·1/(4·3), 6)
    assert(rs(2L) == ((2L, 1L, 1.0)) && rs(3L) == ((2L, 1L, 1.0)))
    assert(rs(4L) == ((1L, 0L, 0.0)) && rs(5L) == ((1L, 0L, 0.0)))
    // k truncates by (n_tri desc, id): top-2 of the star are the two
    // triangle vertices with smallest ids
    val top2 = Profiling.localClustering(star, 2).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(top2 == Seq(1L, 2L))
  }

  test("zipf fit: natural-text slope, valid r2, totals recompute") {
    val r = run("q225_zipf_fit").head()
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope < -0.1 && slope > -3.0, s"implausible zipf slope $slope")
    val r2 = r.getAs[Double]("r2")
    assert(r2 > 0.0 && r2 <= 1.0)
    // type/token totals recompute from a direct aggregation
    val v = Tables.documents(spark, sf0001)
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    assert(r.getAs[Long]("n_types") == v.distinct().count())
    assert(r.getAs[Long]("n_tokens") == v.count())
  }

  test("unseen mass: estimator bounds and totals") {
    val r = run("q243_unseen_mass").head()
    val (types, tokens) = (r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"))
    assert(r.getAs[Long]("n_singletons") <= types)
    assert(r.getAs[Long]("n_doubletons") <= types)
    val p0 = r.getAs[Double]("p0_unseen")
    assert(p0 >= 0.0 && p0 <= 1.0)
    // Chao1 lower-bounds nothing below the observed richness
    assert(r.getAs[Double]("chao1_richness") >= types.toDouble)
    assert(tokens >= types)
  }

  test("heaps fit: cum curves are monotone and close on the exact totals") {
    val rows = run("q291_heaps_fit").collect()
    assert(rows.length == 10, "one row per doc-order decile")
    val cumT = rows.map(_.getAs[Long]("cum_tokens"))
    val cumV = rows.map(_.getAs[Long]("cum_types"))
    assert(cumT.zip(cumT.tail).forall { case (a, b) => a <= b },
      "cum_tokens must be non-decreasing")
    assert(cumV.zip(cumV.tail).forall { case (a, b) => a <= b },
      "cum_types must be non-decreasing")
    // the final checkpoint IS the whole corpus: totals must equal a direct
    // tokenize-and-count, and distinct types a direct distinct
    val toks = Tables.documents(spark, sf0001)
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    assert(cumT.last == toks.count(), "final cum_tokens != corpus tokens")
    assert(cumV.last == toks.distinct().count(),
      "final cum_types != corpus vocabulary")
    // vocabulary grows sublinearly in tokens: beta < 1 (beta == 1 would
    // mean every token is always new); beta == 0 is legal — the sf0.001
    // corpus's closed vocabulary saturates inside the first decile, which
    // is exactly what the fit should report there
    val beta = rows.head.getAs[Double]("heaps_beta")
    assert(beta >= 0.0 && beta < 1.0, s"Heaps beta out of range: $beta")
    assert(rows.head.getAs[Double]("heaps_k") > 0.0)
    assert(rows.map(_.getAs[Double]("heaps_beta")).distinct.length == 1,
      "beta must repeat identically on every row")
  }

  test("q314: fixed-point PageRank matches a driver 5-iteration recompute") {
    val pairs = graft.ops.TextOps
      .exactJaccardPairs(spark, sf0001, 0.5)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no near-dup edges at sf0.001 — vacuous")
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).toSeq }
    val deg = adj.map { case (u, vs) => u -> vs.length.toLong }
    var r = adj.keys.map(_ -> 1000000L).toMap
    (1 to 5).foreach { _ =>
      val m = adj.toSeq.flatMap { case (u, vs) =>
        val c = r(u) * 850000L / (deg(u) * 1000000L)
        vs.map(_ -> c)
      }.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      r = adj.keys.map(v => v -> (150000L + m.getOrElse(v, 0L))).toMap
    }
    val got = run("q314_dedup_pagerank").collect().map(x =>
      x.getLong(0) -> (x.getAs[Long]("deg"), x.getAs[Long]("rank_micro")))
      .toMap
    assert(got.keySet == r.keySet)
    got.foreach { case (v, (d, rk)) =>
      assert(d == deg(v), s"node $v deg")
      assert(rk == r(v), s"node $v rank ${rk} vs ${r(v)}")
    }
    // authority must differentiate: a graph with edges has rank spread
    assert(got.values.map(_._2).toSet.size > 1 || got.size <= 2)
  }

  test("q315: k-anonymity audit matches a driver class tally") {
    // .values.toSeq BEFORE the per-class map: mapping the groupBy Map to
    // (size, ndv) pairs would rebuild a Map KEYED BY SIZE and silently
    // collapse every equal-sized class (99 classes -> 14 at sf0.001)
    val cls = Tables.documents(spark, sf0001)
      .select(col("source"), col("lang"), col("n_chars")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1).values.toSeq
      .map(xs => (xs.length.toLong, xs.map(_._2).distinct.length.toLong))
    val got = run("q315_k_anonymity").collect().map(r =>
      r.getAs[Int]("k") -> (r.getAs[Long]("n_classes"),
        r.getAs[Long]("n_violating"), r.getAs[Long]("rows_at_risk"),
        r.getAs[Long]("min_class"), r.getAs[Long]("min_l_diversity"))).toMap
    Seq(2, 5, 10).foreach { k =>
      val want = (cls.size.toLong, cls.count(_._1 < k).toLong,
        cls.filter(_._1 < k).map(_._1).sum,
        cls.map(_._1).min, cls.map(_._2).min)
      assert(got(k) == want, s"k=$k: ${got(k)} vs $want")
    }
    // rows_at_risk is monotone in k (larger k can only add violators)
    val risk = Seq(2, 5, 10).map(got(_)._3)
    assert(risk == risk.sorted, s"risk not monotone: $risk")
  }
}
