package graft

import graft.ops.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct word 3-grams, short docs dropped") {
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "too short"),
      (3L, "a a a a")).toDF("doc_id", "text")
    val sh = TextOps.shingles(df, "text", 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sh == Set(
      (1L, "the quick brown"), (1L, "quick brown fox"), (1L, "brown fox jumps"),
      (3L, "a a a"))) // distinct collapses the repeated shingle; doc 2 dropped
  }

  test("WordShingles expression matches the SQL split/explode form exactly") {
    // edge cases: leading tab (space-only trim must NOT remove it — Spark
    // and DuckDB trim are space-only), repeated shingles, mixed case,
    // too-short docs, empty string
    val docs = Seq(
      (1L, "\tThe Quick brown FOX jumps"),
      (2L, "a a a a a"),
      (3L, "one two"),
      (4L, ""),
      (5L, "  padded   with   runs  ")).toDF("doc_id", "text")
    val viaExpr = TextOps.shingles(docs, "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val toks = split(trim(lower(col("text"))), "\\s+")
    val grams = (0 until 3).map(i => col("w")(col("i") + i - 1))
    val viaSql = docs.withColumn("w", toks).filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 2)).as("i"), col("w"))
      .select(col("doc_id"), concat_ws(" ", grams: _*).as("shingle"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaExpr == viaSql)
  }

  test("tokens lowercases, trims and splits on whitespace runs") {
    val df = Seq(Tuple1("  Hello   WORLD\tfoo ")).toDF("t")
    val toks = df.select(TextOps.tokens(col("t"))).head().getSeq[String](0)
    assert(toks == Seq("hello", "world", "foo"))
  }

  test("q28 language id: stopword argmax with priority and zh override") {
    val docs = Seq(
      (1L, "the cat and the dog of a house", "en", "s"),
      (2L, "el perro y la casa de los gatos", "es", "s"),
      (3L, "xyzzy qwerty plugh", "unknown", "s"),
      (4L, "中文文本", "zh", "s"))
      .toDF("doc_id", "text", "lang", "source")
    docs.createOrReplaceTempView("___ignore") // not used; direct call below
    val toks = TextOps.tokens(col("text"))
    // reuse the same scoring logic through the public query on a temp dir is
    // heavier; assert on the building blocks instead
    val en = size(filter(toks, t => array_contains(
      array(Seq("the", "a", "and", "of", "to", "in", "is").map(lit): _*), t)))
    val r = docs.select(col("lang"), en.as("en_hits")).collect()
      .map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(r("en") >= 4 && r("es") == 0 && r("unknown") == 0)
  }

  test("q44 simhash two-stage dedup: subset of exact pairs, misses only h>7") {
    val exact = SparkEntry.queries("q27_ngram_jaccard")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simhash = TextOps.simhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simhash.nonEmpty)
    assert(simhash.subsetOf(exact),
      s"simhash+verify produced non-near-dup pairs: ${simhash -- exact}")
    val missed = exact -- simhash
    if (missed.nonEmpty) {
      // every miss must be a fingerprint miss (the query outputs exactly the
      // h <= 7 band, which the 8-chunk pigeonhole join finds completely),
      // never a verification bug
      val docs = TextOps.shingles(Tables.documents(spark, sf0001), "text", 3)
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("ss"))
        .select(col("doc_id"),
          graft.functions.TextHash.simhash64(col("ss")).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      missed.foreach { case (a, b) =>
        val h = java.lang.Long.bitCount(docs(a) ^ docs(b))
        assert(h > 7, s"pair ($a,$b) had hamming $h but was missed")
      }
    }
  }

  test("winnow: shared substrings guarantee shared fingerprints; edits stay local") {
    import graft.functions.TextHash
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val edited = "PREFIX " + base + " SUFFIX" // insertions at the edges
    val unrelated = "entirely different content with nothing in common here at all ok"
    val df = Seq((1L, base), (2L, edited), (3L, unrelated)).toDF("id", "t")
    val sets = df.select(col("id"), TextHash.winnow(col("t"), 16, 8).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: a shared substring of length >= w+k-1 (23 chars)
    // yields at least one shared fingerprint — base is fully contained
    val shared12 = sets(1L) & sets(2L)
    assert(shared12.size >= sets(1L).size / 2,
      s"edit destroyed fingerprints: ${shared12.size} of ${sets(1L).size}")
    assert((sets(1L) & sets(3L)).isEmpty)
    // deterministic
    val again = df.select(col("id"), TextHash.winnow(col("t"), 16, 8).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(again == sets)
  }

  test("q51 winnow dedup covers the exact near-dup pairs") {
    val exact = SparkEntry.queries("q27_ngram_jaccard")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnow = TextOps.winnowPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(winnow.nonEmpty)
    // substring overlap and shingle Jaccard are different similarity
    // notions; require strong mutual coverage rather than equality
    val covered = (exact & winnow).size.toDouble / exact.size
    assert(covered >= 0.8, s"winnow covered only ${(covered * 100).round}% of exact pairs")
  }

  test("q27 exact Jaccard finds the planted near-dup and skips distinct docs") {
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "alpha beta gamma delta epsilon eta" // 1 word differs
    val c = "one two three four five six"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val sh = TextOps.shingles(docs, "text", 3)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.toDF("doc_a", "shingle")
      .join(sh.toDF("doc_b", "shingle"), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(cnt.toDF("doc_a", "na"), "doc_a")
      .join(cnt.toDF("doc_b", "nb"), "doc_b")
      .withColumn("j", col("inter") / (col("na") + col("nb") - col("inter")))
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert((p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b")) == (1L, 2L))
    // 4 shingles each, 3 shared: j = 3/5
    assert(p.getAs[Double]("j") == 0.6)
  }

  test("q88 keep-first dedup: doc_b drops even when its dropper also dropped") {
    // chain a~b, b~c, a!~c (one-word steps): keep-first drops b (a is an
    // earlier near-dup) AND c (b is an earlier near-dup, even though b
    // itself was dropped) — the greedy rule, deliberately NOT the
    // connected-components keep-one-per-cluster of q82
    // 12 tokens -> 10 shingles; an edited token kills the 2 shingles that
    // contain it (ends) so: jac(a,b)=8/12, jac(b,c)=8/12, jac(a,c)=6/14
    val a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    val b = "t1 xx t3 t4 t5 t6 t7 t8 t9 t10 t11 t12" // token 2 edited
    val c = "t1 xx t3 t4 t5 t6 t7 t8 t9 t10 yy t12"  // token 11 edited too
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = TextOps.exactJaccardPairsFrom(
      TextOps.shingles(docs, "text", 3), minJac = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), pairs)
    val dropped = pairs.map(_._2)
    assert(dropped == Set(2L, 3L)) // c dropped although its dropper b was too
  }

  test("q91 repetition stats: dup-token fraction, top bigram with lex tie-break") {
    val docs = Seq(
      (1L, "a b a b a"), // 5 toks, 2 distinct; bigrams a-b x2, b-a x2 -> tie, "a b" wins
      (2L, "x"),         // one token, no bigram -> dropped
      (3L, "c c c"))     // fully repetitive: top bigram covers all 2 bigrams
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStats(docs).orderBy("doc_id").collect()
    assert(got.length == 2)
    val r1 = got(0)
    assert(r1.getLong(0) == 1L && r1.getLong(1) == 5L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 0.6)
    assert(r1.getString(4) == "a b" && r1.getLong(5) == 2L && r1.getDouble(6) == 0.5)
    val r3 = got(1)
    assert(r3.getLong(0) == 3L && r3.getDouble(3) == 0.6667)
    assert(r3.getString(4) == "c c" && r3.getDouble(6) == 1.0)
  }

  test("q92 decontamination: shared n-gram with a benchmark doc flags the doc") {
    val docs = Seq(
      (100L, "alpha beta gamma delta"),  // benchmark
      (1L, "zzz alpha beta gamma qqq"),  // shares "alpha beta gamma" -> flagged
      (2L, "foo bar baz qux quux"),      // clean
      (3L, "beta gamma delta"))          // shares bench trailing 3-gram -> flagged
      .toDF("doc_id", "text")
    val got = TextOps.contaminatedIds(docs, col("doc_id") === 100L, n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("q87 incremental dedup ignores corpus- and batch-internal duplicates") {
    // new batch = doc_id % 7 == 0. The operator must flag ONLY new docs
    // whose duplicate lives in the corpus — pairs inside the corpus and
    // pairs inside the new batch are other operators' business (q26/q82).
    val near1 = "alpha beta gamma delta epsilon zeta"
    val near2 = "alpha beta gamma delta epsilon eta"
    val exact = "exact copy of a corpus document body"
    val batch = "the brand new never seen before document"
    val docs = Seq(
      (7L, near1), (1L, near2),          // cross-boundary near-dup -> flagged
      (2L, near1 + " extra"),            // corpus-internal near of 1 -> ignored
      (14L, exact), (4L, exact),         // cross-boundary exact -> dup_exact
      (21L, "totally unrelated text that matches nothing else here"),
      (28L, batch), (35L, batch + " tail")) // batch-internal near pair -> kept
      .toDF("doc_id", "text")
    val dir = ops.Sources.scratchDir(spark, "graft_incr_spec") // shutdown-hook cleaned
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q87_incremental_dedup")(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("dup_exact" -> 1L, "near_dup" -> 1L, "kept" -> 3L), out)
  }

  test("q99 redaction counts agree with a token-level recount") {
    // the corpus is space-separated word salad, so every \b(term)\b regex
    // hit is a whole token — an independent token-filter recount must land
    // on exactly the same totals, and chars_removed is determined by the
    // per-term length arithmetic (term_len - len("[X]"))
    val out = SparkEntry.queries("q99_redact")(spark, sf0001)
      .agg(sum("n_redactions"), sum("chars_removed")).head()
    val toks = Tables.documents(spark, sf0001)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
    val byTerm = toks.filter(col("t").isin("customer", "vector"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nHits = byTerm.values.sum
    val delta = byTerm.getOrElse("customer", 0L) * ("customer".length - 3) +
      byTerm.getOrElse("vector", 0L) * ("vector".length - 3)
    assert(out.getLong(0) == nHits)
    assert(out.getLong(1) == delta)
  }

  test("q100 chunk windows: counts and coverage on crafted token lengths") {
    // n=5 -> one short chunk; n=16 -> one exact window; n=17 -> starts 0,1
    // (tail-aligned, both 16 wide); n=28 -> stride-aligned starts 0,12;
    // n=30 -> starts 0,12,14 (tail window added)
    def doc(id: Long, n: Int) =
      (id, "s", (1 to n).map(i => s"d${id}w$i").mkString(" "))
    val docs = Seq(doc(1, 5), doc(2, 16), doc(3, 17), doc(4, 28), doc(5, 30))
      .toDF("doc_id", "source", "text")
    val dir = ops.Sources.scratchDir(spark, "graft_chunk_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q100_chunk_windows")(spark, dir.toString)
      .collect().head
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("n_chunks") == (1 + 1 + 2 + 2 + 3))
    // every chunk is 16 tokens except doc 1's single 5-token chunk
    assert(r.getAs[Long]("sum_chunk_tokens") == (5 + 16 + 2 * 16 + 2 * 16 + 3 * 16))
    // distinct token vocabularies per doc -> no cross-doc chunk collisions,
    // and within a doc only distinct windows (doc 3's two windows differ)
    assert(r.getAs[Long]("n_uniq_chunks") == r.getAs[Long]("n_chunks"))
  }

  test("argmax fold (min over (-score, tok)) equals the row_number window pick") {
    // pins q70's rewrite: the aggregating argmax must select exactly the
    // row a (score DESC, tok ASC) row_number()=1 window selects, including
    // on tied scores — random non-negative scores with forced duplicates
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    val rows = for {
      doc <- 1 to 200
      tok <- 1 to 20
    } yield {
      // quantize so every doc has score ties across several tokens
      val score = math.floor(rnd.nextDouble() * 5) / 7.0
      (doc.toLong, f"tok$tok%02d", score)
    }
    val df = rows.toDF("doc_id", "tok", "score")
    val viaWindow = df.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("tok"))))
      .filter(col("rn") === 1).select("doc_id", "tok", "score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val viaFold = df.groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("neg"), col("tok"))).as("best"))
      .select(col("doc_id"), col("best.tok"), (-col("best.neg")).as("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaFold == viaWindow)
  }

  test("q129 prefix-filtered join: exact vs brute force, and really prunes") {
    // the prefix lemma promises candidates ⊇ τ-pairs; the verify stage
    // promises the OUTPUT equals the brute-force shingle-join pair set
    // (same τ = 0.5, same raw-ratio semantics as q27). Both directions
    // checked against exactJaccardPairs on the real corpus, plus the
    // pruning property that makes the operator worth having: candidates
    // must be a small fraction of the n·(n−1)/2 pair space.
    val row = SparkEntry.queries("q129_prefix_setsim")(spark, sf0001).head()
    val exact = TextOps.exactJaccardPairs(spark, sf0001, minJac = 0.5)
      .localCheckpoint(true)
    assert(row.getAs[Long]("n_pairs") == exact.count())
    val ck = exact.agg(coalesce(
        sum(col("doc_a") * 131071 + col("doc_b")), lit(0)).cast("long"))
      .head().getLong(0)
    assert(row.getAs[Long]("pair_checksum") == ck,
      "prefix-filtered pair set differs from the brute-force pair set")
    val nDocs = row.getAs[Long]("n_docs")
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(row.getAs[Long]("n_candidates") * 10 < allPairs,
      s"prefix filter pruned nothing: ${row.getAs[Long]("n_candidates")} " +
        s"candidates of $allPairs possible pairs")
  }

  test("temperature mix: thresholds monotone in size, kept rate tracks threshold") {
    val rows = TextOps.queries.find(_.name == "q174_temperature_mix").get
      .fn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, thr, kept) = (r.getAs[Long]("n_total"),
        r.getAs[Int]("thr_16bit"), r.getAs[Long]("n_kept"))
      assert(thr >= 0 && thr <= 65536)
      assert(kept <= n)
      // keep decision is Bernoulli(thr/2^16) on a uniform 16-bit hash:
      // binomial 5-sigma band
      val p = thr.toDouble / 65536
      val sd = math.sqrt(n * p * (1 - p))
      assert(math.abs(kept - n * p) <= 5 * sd + 3,
        s"${r.getAs[String]("source")}: kept $kept vs expected ${n * p}")
    }
    // α=1/2 smoothing: the keep RATE must be non-increasing in source size
    val bySize = rows.sortBy(_.getAs[Long]("n_total"))
    bySize.sliding(2).foreach { case Array(a, b) =>
      if (a.getAs[Long]("n_total") < b.getAs[Long]("n_total"))
        assert(a.getAs[Int]("thr_16bit") >= b.getAs[Int]("thr_16bit"),
          "smaller sources must keep at a rate >= larger sources")
      case _ => ()
    }
  }

  test("threshold sweep: monotone curve, 50%-cell equals q27's pair set") {
    val rows = SparkEntry.queries("q232_threshold_sweep")(spark, sf0001)
      .collect()
    assert(rows.length == 7)
    val byThr = rows.map(r => r.getAs[Int]("threshold_pct") ->
      r.getAs[Long]("n_pairs")).toMap
    // raising the cutoff can only shrink the pair set
    val counts = rows.sortBy(_.getAs[Int]("threshold_pct"))
      .map(_.getAs[Long]("n_pairs")).toSeq
    assert(counts == counts.sorted.reverse)
    // the 50% cell must equal the q27 ground-truth pair count exactly
    // (same >= rule, same shingle pipeline)
    val q27 = graft.ops.TextOps.exactJaccardPairs(spark, sf0001, 0.5).count()
    assert(byThr(50) == q27, s"50% cell ${byThr(50)} vs q27 $q27")
  }

  test("quantile normalization: every source maps onto the pooled range") {
    val rows = SparkEntry.queries("q238_quantile_normalize")(spark, sf0001)
      .collect()
    val pooled = Tables.documents(spark, sf0001)
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
        count(lit(1)).as("n")).head()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == pooled.getAs[Long]("n"))
    rows.foreach { r =>
      // the top-ranked doc of EVERY source maps to global rank N exactly
      // (⌈n_s·N/n_s⌉ = N), so max_after is the pooled maximum everywhere
      assert(r.getAs[Long]("max_after") == pooled.getAs[Long]("mx"),
        s"${r.getAs[String]("source")} max_after")
      assert(r.getAs[Long]("min_after") >= pooled.getAs[Long]("mn"))
    }
  }

  test("cluster-aware split: partition complete, zero straddling clusters") {
    val rows = SparkEntry.queries("q239_cluster_split")(spark, sf0001)
      .collect()
    val total = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_straddling") == 0L,
        "cohesion must hold by construction and by audit")
      assert(r.getAs[Long]("n_keys") <= r.getAs[Long]("n_docs"))
    }
    assert(rows.map(_.getAs[String]("split")).toSet ==
      Set("train", "val", "test"))
    // train must dominate (12/16 of hash space)
    val byName = rows.map(r => r.getAs[String]("split") ->
      r.getAs[Long]("n_docs")).toMap
    assert(byName("train") > byName("val") + byName("test"))
  }

  test("phrase search: positional counts equal a token-walk recount") {
    val rows = SparkEntry.queries("q258_phrase_search")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id")).trim.toLowerCase
        .split("\\s+")
      val direct = toks.sliding(2)
        .count(p => p.length == 2 && p(0) == "sort" && p(1) == "merge")
      assert(r.getAs[Long]("n_occ") == direct,
        s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("shared spans: pair-complete, span bounded by doc length") {
    val spans = SparkEntry.queries("q270_shared_spans")(spark, sf0001)
      .collect()
    val pairs = graft.ops.TextOps.exactJaccardPairs(spark, sf0001, 0.5)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every near-dup pair shares at least one 3-gram → appears here
    assert(spans.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet == pairs)
    val lens = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    spans.foreach { r =>
      val span = r.getAs[Long]("max_span_tokens")
      assert(span >= 3, "any shared 3-gram covers 3 tokens")
      assert(span <= lens(r.getAs[Long]("doc_a")))
      assert(r.getAs[Long]("n_shared_positions") >= span - 2)
    }
  }

  test("bipartite audit agrees with driver-side 2-coloring") {
    val r = SparkEntry.queries("q259_bipartite_audit")(spark, sf0001)
      .head()
    assert(r.getAs[Boolean]("all_reached"))
    // brute-force 2-coloring of the collected (tiny at sf0.001) graph
    val edges = graft.ops.TextOps.exactJaccardPairs(spark, sf0001, 0.5)
      .collect().map(e => (e.getAs[Long]("doc_a"), e.getAs[Long]("doc_b")))
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val color = scala.collection.mutable.Map[Long, Int]()
    var nOdd = 0
    var nComp = 0
    adj.keys.toSeq.sorted.foreach { start =>
      if (!color.contains(start)) {
        nComp += 1
        var odd = false
        var frontier = List(start)
        color(start) = 0
        while (frontier.nonEmpty) {
          val next = frontier.flatMap { n =>
            adj(n).flatMap { m =>
              if (!color.contains(m)) { color(m) = 1 - color(n); Some(m) }
              else { if (color(m) == color(n)) odd = true; None }
            }
          }
          frontier = next
        }
        if (odd) nOdd += 1
      }
    }
    assert(r.getAs[Long]("n_components") == nComp)
    assert(r.getAs[Long]("n_odd_cycle") == nOdd)
    assert(r.getAs[Long]("n_bipartite") == nComp - nOdd)
    assert(r.getAs[Long]("n_nodes") == adj.size)
  }

  test("q292: the source matrix partitions q27's pair stream exactly") {
    val cells = graft.SparkEntry.queries("q292_source_dup_matrix")(
      spark, sf0001).collect()
    val totalPairs = graft.ops.TextOps
      .exactJaccardPairs(spark, sf0001, minJac = 0.5).count()
    assert(cells.map(_.getAs[Long]("n_pairs")).sum == totalPairs,
      "matrix cells must partition the >= 0.5 pair stream")
    cells.foreach { c =>
      assert(c.getAs[String]("source_1") <= c.getAs[String]("source_2"),
        "cells must be canonically ordered")
      assert(c.getAs[Double]("min_jac") >= 0.5 - 1e-9 &&
        c.getAs[Double]("max_jac") <= 1.0 + 1e-9)
    }
  }

  test("q294: unique+shared accounting closes against the shingle table") {
    val rows = graft.SparkEntry.queries("q294_shingle_novelty")(
      spark, sf0001).collect()
    val ds = graft.ops.TextOps
      .shingles(Tables.documents(spark, sf0001), "text", 3)
      .join(Tables.documents(spark, sf0001).select("doc_id", "source"),
        "doc_id")
      .select("source", "shingle").distinct().cache()
    try {
      // per-source totals match the direct distinct counts
      val direct = ds.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rows.foreach { r =>
        assert(r.getAs[Long]("n_shingles") == direct(r.getAs[String]("source")))
        assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_shingles"))
        val f = r.getAs[Double]("shared_frac")
        assert(f >= 0.0 && f <= 1.0)
      }
      // every single-source shingle is counted unique in EXACTLY one
      // source: sum(n_shingles - n_shared) == |{shingle : n_src == 1}|
      val uniqueTotal = rows.map(r =>
        r.getAs[Long]("n_shingles") - r.getAs[Long]("n_shared")).sum
      val singleSrc = ds.groupBy("shingle").count()
        .filter(col("count") === 1).count()
      assert(uniqueTotal == singleSrc,
        "unique-shingle accounting must close across sources")
    } finally ds.unpersist(blocking = false)
  }

  test("q295: reliability bins partition the corpus; ECE is consistent") {
    val rows = graft.SparkEntry.queries("q295_calibration_ece")(
      spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "bins must partition the corpus (every doc has >= 1 token here)")
    assert(rows.map(_.getAs[Long]("n_en")).sum ==
      docs.filter(col("lang") === "en").count())
    rows.foreach { r =>
      val (c, a) = (r.getAs[Double]("conf"), r.getAs[Double]("acc"))
      assert(c >= 0.0 && c <= 1.0 && a >= 0.0 && a <= 1.0)
      assert(r.getAs[Int]("bin") >= 0 && r.getAs[Int]("bin") <= 9)
    }
    // one ECE, repeated identically on every row, and it equals the
    // doc-weighted fold of the per-bin gaps
    val eces = rows.map(_.getAs[Double]("ece")).distinct
    assert(eces.length == 1)
    val n = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    // recompute the fold from the per-bin cells (the rounded conf column
    // is within 5e-7 of the exact ratio, so a 1e-3 band is generous)
    val ece = rows.map { r =>
      val acc = r.getAs[Long]("n_en").toDouble / r.getAs[Long]("n_docs")
      math.abs(acc - r.getAs[Double]("conf")) * r.getAs[Long]("n_docs")
    }.sum / n
    assert(math.abs(eces.head - ece) < 1e-3,
      s"ECE ${eces.head} inconsistent with per-bin fold $ece")
  }

  test("prefix-filtered Jaccard self-join ≡ direct plan at t=0.5 and t=0.9") {
    // the adaptive-plan exactness pin: the PPJoin prefix plan (taken above
    // the shingle-row threshold, i.e. at sf1+) must emit BIT-IDENTICAL
    // pairs to the direct shared-shingle enumeration the oracle gate
    // exercises at sf0.01 — doc ids, and the jac_raw double itself
    val sh = TextOps.shingles(
      Tables.documents(spark, "/root/testdata/sf0.01"), "text", 3)
      .localCheckpoint(true)
    Seq(0.5, 0.9).foreach { t =>
      val direct = TextOps.jaccardPairsAcross(sh, sh,
        sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")),
        t, col("doc_a") < col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefixed = TextOps.prefixJaccardSelfJoin(sh, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(direct.nonEmpty, s"no pairs at t=$t — vacuous equivalence")
      assert(prefixed == direct,
        s"t=$t: prefix plan diverged (missing ${direct -- prefixed}, " +
          s"extra ${prefixed -- direct})")
    }
  }

  test("adaptive kernel: the default and the forced-prefix branch return the same pairs") {
    val sh = TextOps.shingles(
      Tables.documents(spark, sf0001), "text", 3).localCheckpoint(true)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // sf0.001: the direct branch
    val default = pairs(TextOps.exactJaccardPairsFrom(sh, 0.5))
    // bytes threshold 0: the prefix branch
    val forced = pairs(TextOps.exactJaccardPairsFromImpl(sh, 0.5,
      thresholdBytes = 0, floorBytes = 0))
    assert(default.nonEmpty)
    assert(forced == default)
  }

  test("AdaptivePlan: zero jobs at construction; stats pick the plan shape") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val sh = TextOps.shingles(
      Tables.documents(spark, sf0001), "text", 3).localCheckpoint(true)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // drain events queued BEFORE the listener registered (the async bus
      // delivers pending events to late-added listeners), then zero out
      Thread.sleep(1000)
      jobs.set(0)
      val df = TextOps.exactJaccardPairsFrom(sh, 0.5)
      Thread.sleep(1000) // listener bus drain window
      assert(jobs.get() == 0,
        s"plan construction ran ${jobs.get()} job(s); the optimizer-time " +
          "choice must be free (the count() job the rule exists to remove)")
      // default at sf0.001: the direct branch — no window anywhere
      val direct = df.queryExecution.optimizedPlan
      assert(direct.collect { case w: Window => w }.isEmpty,
        "sf0.001 default should optimize to the direct (window-free) branch")
      // bytes threshold 0: the prefix branch — row_number window present
      val prefix = TextOps.exactJaccardPairsFromImpl(sh, 0.5,
          thresholdBytes = 0, floorBytes = 0)
        .queryExecution.optimizedPlan
      assert(prefix.collect { case w: Window => w }.nonEmpty,
        "bytes=0 should optimize to the prefix (windowed) branch")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("tokens(): vertical tab is a token character in BOTH engines (explicit class, not \\s)") {
    // Java \s includes \x0B; RE2's \s excludes it in old releases and
    // includes it in new ones. The house class [ \t\n\f\r] is explicit on
    // both sides, so a VT-bearing document tokenizes identically everywhere:
    // "alpha<VT>beta gamma" is TWO tokens, the first containing the VT.
    val df = Seq((1L, "Alpha\u000Bbeta gamma\tdelta\nepsilon")).toDF("doc_id", "text")
    val got = df.select(TextOps.tokens(col("text")).as("w"))
      .selectExpr("w", "size(w) AS n").collect().head
    assert(got.getAs[Int]("n") == 4)
    assert(got.getSeq[String](0) ==
      Seq("alpha\u000bbeta", "gamma", "delta", "epsilon"))
  }

  test("simhash variant-scheme candidates are plan-identical to the chunk scheme") {
    // Both candidate plans are complete for the hamming <= 7 band, so the
    // full (doc_a, doc_b, hamming, jaccard) output must be bit-identical.
    val sets = TextOps.shingleSets(TextOps.shingles(
      Tables.documents(spark, sf0001), "text", 3).localCheckpoint(true))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    // bytes threshold 0 forces the 4x16-bit one-error-variant plan
    val variant = pairs(TextOps.simhashPairsFromSetsImpl(sets,
      thresholdBytes = 0, floorBytes = 0))
    // default: sf0.001 takes the 8-chunk plan
    val chunk = pairs(TextOps.simhashPairsFromSets(sets))
    assert(chunk.nonEmpty, "no simhash pairs at sf0.001 — vacuous equivalence")
    assert(variant == chunk,
      s"variant plan diverged (missing ${chunk -- variant}, " +
        s"extra ${variant -- chunk})")
  }

  // ---- round-14: the df-amplification probe (AdaptivePlan.AmpProbe) ----
  // A byte statistic cannot see df skew (BENCH_NOTES round 14: a Zipfian
  // corpus 30x smaller in bytes ran the direct plan 5x slower), so below
  // the byte threshold the rule now runs a sampled sum(df^2)/rows probe
  // over the checkpointed key stream and escapes to the prefix/variant
  // branch when the measured amplification crosses the calibrated ratio.

  /** 2000 docs, each carrying one corpus-wide hot shingle plus 4 unique
    * ones: amp = (2000^2 + 8000) / 10000 ~= 401 — decisively Zipfian. */
  private def skewedShingleRows() =
    spark.range(0, 2000).selectExpr("id AS doc_id",
      "explode(array('hot hot hot', concat('u', id, ' a b'), " +
        "concat('u', id, ' c d'), concat('u', id, ' e f'), " +
        "concat('u', id, ' g h'))) AS shingle")
      .localCheckpoint(true)

  /** Same size/shape, every shingle unique: amp = 1.0 exactly. */
  private def flatShingleRows() =
    spark.range(0, 2000).selectExpr("id AS doc_id",
      "explode(array(concat('u', id, ' a b'), concat('u', id, ' c d'), " +
        "concat('u', id, ' e f'), concat('u', id, ' g h'), " +
        "concat('u', id, ' i j'))) AS shingle")
      .localCheckpoint(true)

  test("amp probe: sampled estimator tracks exact sum(df^2)/rows on a skewed stream") {
    val sh = skewedShingleRows()
    val exact = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg((sum(col("df") * col("df")).cast("double") / sum(col("df")))
        .as("amp")).head().getDouble(0)
    val sampled = org.apache.spark.sql.GraftSql.ofRows(spark,
      TextOps.ampProbePlan(sh, 8L)).head().getDouble(0)
    assert(exact > 300 && exact < 500, s"fixture drifted: exact amp $exact")
    // row sampling keeps the hot shingle (binomial thinning, ~4% noise at
    // df=2000/mod=8); type sampling would miss it with probability 7/8
    assert(math.abs(sampled - exact) / exact < 0.25,
      s"sampled amp $sampled vs exact $exact — estimator off by >25%")
  }

  test("amp probe flips the jaccard plan to prefix on a skewed stream below the byte threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // the fixture is tiny: floorBytes 0 forces the probe on
    def probed(sh: org.apache.spark.sql.DataFrame) =
      TextOps.exactJaccardPairsFromImpl(sh, 0.5,
        TextOps.PrefixThresholdBytes, floorBytes = 0)
    val skewPlan = probed(skewedShingleRows())
    // accessing optimizedPlan runs the rule, which runs the probe job
    assert(skewPlan.queryExecution.optimizedPlan
        .collect { case w: Window => w }.nonEmpty,
      "amp ~401 > 120 must pick the prefix (windowed) branch even " +
        "though the frame is far below the byte threshold")
    // the prefix of every 5-shingle doc at t=0.5 is its 3 RAREST
    // shingles — the hot shingle never enters candidate generation, so
    // the probe-picked plan also EXECUTES without the n^2 blowup
    assert(skewPlan.count() == 0)
    val flatPlan = probed(flatShingleRows())
    assert(flatPlan.queryExecution.optimizedPlan
        .collect { case w: Window => w }.isEmpty,
      "amp 1.0 < 120 must keep the direct (window-free) branch")
  }

  test("amp probe flips the simhash plan to the one-error-variant scheme under skew") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val sets = TextOps.shingleSets(skewedShingleRows())
    def generates(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case g: Generate => g }.length
    // self-calibrate the two branch shapes via the byte-threshold forcing
    val variantShape = generates(TextOps.simhashPairsFromSetsImpl(sets,
      thresholdBytes = 0, floorBytes = 0))
    val chunkShape = generates(TextOps.simhashPairsFromSets(sets))
    assert(variantShape != chunkShape,
      "fixture cannot distinguish the branches by Generate count")
    // the fixture is tiny: floorBytes 0 forces the probe on
    def probed(s: org.apache.spark.sql.DataFrame) =
      TextOps.simhashPairsFromSetsImpl(s, TextOps.VariantThresholdBytes,
        floorBytes = 0)
    assert(generates(probed(sets)) == variantShape,
      "amp ~401 > 120 must pick the one-error-variant branch")
    val flatSets = TextOps.shingleSets(flatShingleRows())
    assert(generates(probed(flatSets)) == chunkShape,
      "amp 1.0 < 120 must keep the chunk-join branch")
  }

  test("amp probe runs ONE job per frame: cached across consumers, zero jobs at construction") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sh = skewedShingleRows()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Thread.sleep(1000)
      jobs.set(0)
      // the fixture is tiny: floorBytes 0 forces the probe on
      val q1 = TextOps.exactJaccardPairsFromImpl(sh, 0.5,
        TextOps.PrefixThresholdBytes, floorBytes = 0)
      val q2 = TextOps.exactJaccardPairsFromImpl(sh, 0.9,
        TextOps.PrefixThresholdBytes, floorBytes = 0)
      Thread.sleep(1000)
      assert(jobs.get() == 0,
        s"construction ran ${jobs.get()} job(s); the probe must be deferred")
      val before = graft.plans.AdaptivePlanRule.probeCacheSize
      q1.queryExecution.optimizedPlan // triggers the probe job
      val after1 = graft.plans.AdaptivePlanRule.probeCacheSize
      q2.queryExecution.optimizedPlan // same canonical probe: cache hit
      val after2 = graft.plans.AdaptivePlanRule.probeCacheSize
      assert(after1 == before + 1, s"first optimize cached ${after1 - before}")
      assert(after2 == after1,
        "second consumer of the same frame re-ran the probe")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("amp probe: a FAILING probe is not cached — next optimization " +
    "retries and a later success repopulates (VERDICT r14 #3)") {
    // drive measuredAmp directly with an injectable-failure plan: the
    // production path (AdaptivePlanRule.apply) only controls failure via
    // real executor faults, which local[*] can't stage deterministically
    FlakyProbeState.failNext = true
    FlakyProbeState.calls.set(0)
    val flaky = udf { () =>
      FlakyProbeState.calls.incrementAndGet()
      if (FlakyProbeState.failNext)
        throw new RuntimeException("injected transient probe failure")
      else 2.5
    }
    val plan = spark.range(1).select(flaky().as("amp"))
      .queryExecution.logical
    val before = graft.plans.AdaptivePlanRule.probeCacheSize
    val runsBefore = graft.plans.AdaptivePlanRule.probeRuns.get()
    val nanosBefore = graft.plans.AdaptivePlanRule.probeNanos.get()
    val failsBefore = graft.plans.AdaptivePlanRule.probeFailures.get()
    assert(graft.plans.AdaptivePlanRule.measuredAmp(spark, plan) == 0.0,
      "failed probe must fall back to amp 0 (byte stats stay in charge)")
    assert(graft.plans.AdaptivePlanRule.probeCacheSize == before,
      "a probe FAILURE must not be cached — it would pin the small " +
        "branch for the JVM's lifetime")
    // ADVICE r15: the failed attempt burned wall time, so the telemetry
    // must see it — run counted, nanos accumulated, failure counted
    assert(graft.plans.AdaptivePlanRule.probeRuns.get() == runsBefore + 1,
      "a FAILED probe attempt must still count as a run")
    assert(graft.plans.AdaptivePlanRule.probeNanos.get() > nanosBefore,
      "a FAILED probe attempt's wall time must reach probeNanos")
    assert(graft.plans.AdaptivePlanRule.probeFailures.get() == failsBefore + 1,
      "the failure counter must record the failed attempt")
    FlakyProbeState.failNext = false // the transient fault clears
    assert(graft.plans.AdaptivePlanRule.measuredAmp(spark, plan) == 2.5,
      "the next optimization must re-run the probe, not recall 0.0")
    assert(graft.plans.AdaptivePlanRule.probeCacheSize == before + 1,
      "the successful retry must repopulate the cache")
    val ranBefore = FlakyProbeState.calls.get()
    assert(graft.plans.AdaptivePlanRule.measuredAmp(spark, plan) == 2.5)
    assert(FlakyProbeState.calls.get() == ranBefore,
      "after a success the cache serves — no third probe job")
  }
}

/** Shared mutable state for the flaky-probe spec above. A top-level object
  * (not a captured closure field) so the local-mode task, which
  * deserializes its own closure copy, still reads/writes the SAME state
  * the driver-side assertions observe. */
object FlakyProbeState {
  @volatile var failNext = false
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
