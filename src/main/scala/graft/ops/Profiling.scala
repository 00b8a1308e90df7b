package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Adaptive, Q, Tables}
import graft.Ckpt._

/** Corpus / feature profiling operators — the statistical companions to the
  * curation pipeline (SURVEY.md §2 extension surface): association between
  * categorical columns (mutual information, χ², Cramér's V), collocation
  * mining (PMI over adjacent token bigrams), Markov stationary analysis of
  * the event-type transition graph (the PageRank recurrence on a behavioral
  * graph), and an interpolated bigram language-model score (the KenLM-style
  * perplexity filter of CCNet lineage, trained on the corpus's own bigram
  * table). Reference analogue: the EDA stage's correlation/describe work
  * (/root/reference/Scripts/eda.py) generalized to categorical and text
  * columns.
  *
  * Scale shapes (100 TB): every operator here reduces the corpus with ONE
  * partial-aggregated scan (cell counts, bigram counts, edge counts) and
  * then works on the reduced frame — margins re-aggregate the cell table
  * rather than re-scanning the corpus; token/bigram vocabularies broadcast
  * (they grow sub-linearly in corpus size); the power iteration joins a
  * broadcast rank vector (|nodes| rows) against the edge table, never the
  * reverse. Cross-engine float discipline: every ln/division is written
  * with the same operand grouping on both engines, sums that cross engines
  * are rounded at emission, and every top-k selection orders by integer
  * counts with a string tie-break — floats are data, never selectors.
  */
object Profiling {

  /** Adjacent-token bigrams "a b" from a token array (empty-safe). */
  private[graft] def bigrams(a: Column): Column =
    zip_with(slice(a, lit(1), greatest(size(a) - 1, lit(0))),
      slice(a, lit(2), greatest(size(a) - 1, lit(0))),
      (x, y) => concat_ws(" ", x, y))

  val queries: Seq[Q] = Seq(

    // Mutual information between two categorical columns (lang × source) —
    // the feature-association profile a curation pipeline computes before
    // stratifying or rebalancing: MI in nats, χ² over the full category
    // spine (zero-observed cells contribute their expectation), and
    // Cramér's V as the normalized effect size. ONE corpus scan produces
    // the |langs|×|sources| cell table; margins and totals re-aggregate
    // that tiny frame (no second scan), and the spine is the cross join of
    // the two margin frames — all post-scan work is on ≤k² rows no matter
    // the corpus size. MI/χ² sums are order-sensitive doubles over ~100
    // terms: emitted rounded, far above double noise.
    Q("q138_mutual_info",
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n_xy
        |  FROM documents GROUP BY 1, 2),
        |mx AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
        |my AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c),
        |spine AS (
        |  SELECT mx.lang, my.source, mx.n_x, my.n_y, n,
        |         coalesce(c.n_xy, 0) AS n_xy,
        |         (CAST(mx.n_x AS DOUBLE) * my.n_y) / n AS e
        |  FROM mx CROSS JOIN my CROSS JOIN tot
        |  LEFT JOIN c USING (lang, source))
        |SELECT max(n) AS n_docs,
        |       count(DISTINCT lang) AS n_langs,
        |       count(DISTINCT source) AS n_sources,
        |       round(sum(CASE WHEN n_xy > 0 THEN
        |           (CAST(n_xy AS DOUBLE) / n) *
        |           ln((CAST(n_xy AS DOUBLE) / n) /
        |              ((CAST(n_x AS DOUBLE) / n) * (CAST(n_y AS DOUBLE) / n)))
        |         ELSE 0 END), 6) AS mi_nats,
        |       round(sum((n_xy - e) * (n_xy - e) / e), 4) AS chi2,
        |       round(sqrt(sum((n_xy - e) * (n_xy - e) / e) /
        |         (max(n) * (least(count(DISTINCT lang),
        |                          count(DISTINCT source)) - 1))), 6)
        |         AS cramers_v
        |FROM spine""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_xy"))
        // ckpt(a): margins, spine + join; unshared, the plan rescans documents
        .eagerCkpt
      val mx = c.groupBy("lang").agg(sum(col("n_xy")).cast("long").as("n_x"))
      val my = c.groupBy("source").agg(sum(col("n_xy")).cast("long").as("n_y"))
      val tot = c.agg(sum(col("n_xy")).cast("long").as("n"))
      val spine = mx.crossJoin(my).crossJoin(broadcast(tot))
        .join(c, Seq("lang", "source"), "left")
        .withColumn("n_xy", coalesce(col("n_xy"), lit(0L)))
        .withColumn("e", col("n_x").cast("double") * col("n_y") / col("n"))
      val pxy = col("n_xy").cast("double") / col("n")
      val px = col("n_x").cast("double") / col("n")
      val py = col("n_y").cast("double") / col("n")
      spine.agg(
        max(col("n")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        round(sum(when(col("n_xy") > 0, pxy * log(pxy / (px * py)))
          .otherwise(0.0)), 6).as("mi_nats"),
        round(sum((col("n_xy") - col("e")) * (col("n_xy") - col("e")) / col("e")), 4)
          .as("chi2"),
        round(sqrt(
          sum((col("n_xy") - col("e")) * (col("n_xy") - col("e")) / col("e")) /
            (max(col("n")) * (least(countDistinct(col("lang")),
              countDistinct(col("source"))) - 1))), 6).as("cramers_v"))
    },

    // PMI collocations — adjacent-token bigrams scored by pointwise mutual
    // information against the unigram model, the classic collocation-
    // extraction pass (phrase mining, tokenizer-merge candidates). Bigrams
    // are built MAP-SIDE by zipping each token array with its own tail (no
    // window, no per-token shuffle with positions); selection is top-100
    // by COUNT with a string tie-break (integers select, the float PMI is
    // payload), so no rank boundary ever rests on a double. The PMI
    // expression is written with identical operand grouping on both
    // engines: ln((c_ab/Tb) / ((c_a/Tu) * (c_b/Tu))).
    Q("q139_pmi_collocations",
      s"""WITH t AS (
        |  SELECT doc_id, ${TextOps.duckTokens} AS a FROM documents),
        |u AS (
        |  SELECT unnest(a) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS c FROM u WHERE tok <> '' GROUP BY 1),
        |ut AS (SELECT CAST(sum(c) AS BIGINT) AS tu FROM uc),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(a)),
        |                               i -> a[i] || ' ' || a[i + 1])) AS bg
        |  FROM t WHERE len(a) > 1),
        |bc AS (SELECT bg, count(*) AS c_ab FROM b GROUP BY 1),
        |bt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS tb FROM bc),
        |k AS (
        |  SELECT bg, c_ab FROM bc ORDER BY c_ab DESC, bg LIMIT 100)
        |SELECT bg, c_ab,
        |       round(ln((CAST(c_ab AS DOUBLE) / tb) /
        |                ((CAST(ca.c AS DOUBLE) / tu) *
        |                 (CAST(cb.c AS DOUBLE) / tu))), 6) AS pmi
        |FROM k CROSS JOIN ut CROSS JOIN bt
        |JOIN uc ca ON ca.tok = string_split(k.bg, ' ')[1]
        |JOIN uc cb ON cb.tok = string_split(k.bg, ' ')[2]
        |ORDER BY c_ab DESC, bg""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("a"))
        // ckpt(a): unigram + bigram counts; unshared, tokenize runs twice
        .eagerCkpt
      val uc = t.select(explode(col("a")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val ut = uc.agg(sum(col("c")).cast("long").as("tu"))
      val bc = t.filter(size(col("a")) > 1)
        .select(explode(bigrams(col("a"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      val bt = bc.agg(sum(col("c_ab")).cast("long").as("tb"))
      val k = bc.orderBy(col("c_ab").desc, col("bg")).limit(100)
      k.crossJoin(broadcast(ut)).crossJoin(broadcast(bt))
        .join(broadcast(uc.select(col("tok").as("tok_a"), col("c").as("ca"))),
          split(col("bg"), " ").getItem(0) === col("tok_a"))
        .join(broadcast(uc.select(col("tok").as("tok_b"), col("c").as("cb"))),
          split(col("bg"), " ").getItem(1) === col("tok_b"))
        .select(col("bg"), col("c_ab"),
          round(log((col("c_ab").cast("double") / col("tb")) /
            ((col("ca").cast("double") / col("tu")) *
              (col("cb").cast("double") / col("tu")))), 6).as("pmi"))
        .orderBy(col("c_ab").desc, col("bg"))
    },

    // Markov stationary distribution of the event-type transition graph —
    // the PageRank recurrence (damping 0.85, uniform teleport, dangling
    // mass redistributed) run 12 power iterations over the q94 transition
    // matrix. The iteration shape is the scale-correct one: the edge table
    // (one row per observed transition pair, partial-aggregated from the
    // corpus in ONE scan) stays put; the rank vector (|nodes| rows) is the
    // small side of every join. On 5 nodes this is trivially tiny, but the
    // same loop body is what runs when nodes are URLs/users at 1e9 scale —
    // with ranks broadcast and edges hash-partitioned by src. The oracle
    // unrolls the identical 12 iterations as chained CTEs; per-node sums
    // have ≤|nodes| terms and the final emission is rounded at 6.
    Q("q140_markov_stationary", Profiling.markovOracle(12)) { (s, d) =>
      Profiling.stationary(s, d, 12)
    },

    // Interpolated bigram language-model scoring — the KenLM-style
    // perplexity quality filter (CCNet lineage) with the corpus's own
    // bigram table as the model: each document's mean −ln(0.7·p(b|a) +
    // 0.3·p_uni(b)) over its adjacent-token bigrams. Jelinek-Mercer
    // interpolation with the unigram model means every in-vocabulary
    // bigram has positive mass (no smoothing cliffs), and training on the
    // scored corpus itself makes the query self-contained (swap the counts
    // tables for a held-out model in production). ONE tokenize pass feeds
    // unigram counts, bigram counts, and the scoring explode; both count
    // tables broadcast (sub-linear vocab growth), so scoring is map-side —
    // the q135 topology with a two-term mixture.
    Q("q141_bigram_lm",
      s"""WITH t AS (
        |  SELECT doc_id, ${TextOps.duckTokens} AS a FROM documents),
        |u AS (SELECT unnest(a) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS c FROM u WHERE tok <> '' GROUP BY 1),
        |ut AS (SELECT CAST(sum(c) AS BIGINT) AS tu FROM uc),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
        |         unnest(list_transform(range(1, len(a)), i -> a[i + 1])) AS w2
        |  FROM t WHERE len(a) > 1),
        |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(0.7 * (CAST(bc.c_ab AS DOUBLE) / ca.c) +
        |                     0.3 * (CAST(cb.c AS DOUBLE) / tu))), 6) AS lm_xent
        |FROM bg
        |JOIN bc USING (w1, w2)
        |JOIN uc ca ON ca.tok = bg.w1
        |JOIN uc cb ON cb.tok = bg.w2
        |CROSS JOIN ut
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("a"))
        // ckpt(a): unigram counts + bigram rows; unshared, tokenize runs twice
        .eagerCkpt
      val uc = t.select(explode(col("a")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val ut = uc.agg(sum(col("c")).cast("long").as("tu"))
      val bg = t.filter(size(col("a")) > 1)
        .select(col("doc_id"),
          posexplode(slice(col("a"), lit(1), size(col("a")) - 1))
            .as(Seq("i", "w1")),
          col("a"))
        .withColumn("w2", element_at(col("a"), col("i") + 2))
        .select(col("doc_id"), col("w1"), col("w2"))
        // ckpt(a): bigram counts + bigram join; unshared, posexplode runs twice
        .eagerCkpt
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      bg.join(broadcast(bc), Seq("w1", "w2"))
        .join(broadcast(uc.select(col("tok").as("w1"), col("c").as("ca"))), "w1")
        .join(broadcast(uc.select(col("tok").as("w2"), col("c").as("cb"))), "w2")
        .crossJoin(broadcast(ut))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log(lit(0.7) * (col("c_ab").cast("double") / col("ca")) +
            lit(0.3) * (col("cb").cast("double") / col("tu")))), 6)
            .as("lm_xent"))
        .orderBy("doc_id")
    },

    // BPE tokenizer-merge training — the first 6 merge rules learned from
    // the corpus, the distributed half of tokenizer training (count pairs
    // over the vocabulary, merge the argmax, repeat). See bpeMerges for
    // the space-wrapped symbol encoding that makes greedy left-to-right
    // merge application a plain SQL replace on BOTH engines, and for why
    // the loop runs on the vocabulary table (sub-linear in corpus size),
    // never the corpus. Integer pair counts + lexicographic tie-breaks:
    // the whole training trace is exact, no float anywhere.
    Q("q142_bpe_merges", Profiling.bpeOracle(6)) { (s, d) =>
      Profiling.bpeMerges(s, d, 6)
    },

    // Triangle count + global clustering coefficient of the near-dup graph
    // (the q27 exact τ-pairs as edges) — the structural audit that tells a
    // dedup pipeline whether its pair stream is chains (transitive noise)
    // or cliques (true duplicate groups): cliques are triangle-dense,
    // chains triangle-free. Enumeration is the degree-ordered wedge
    // algorithm (compact-forward): every edge is oriented from its
    // lower-(degree, id) endpoint, wedges form only at each triangle's
    // LOWEST-degree vertex, and each triangle is found exactly once — the
    // orientation bounds join fan-out by arboricity, which is what keeps
    // triangle counting viable on power-law graphs at 1e9 edges. The
    // oracle recomputes every count orientation-free from the a<b<c
    // three-way join; all outputs are integers (plus one guarded rounded
    // ratio), so the hash match is exact.
    Q("q144_triangle_count",
      s"""WITH ${TextOps.jaccardCtes},
        |e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b
        |  FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter * 2 >= ca.n_sh + cb.n_sh - inter),
        |deg AS MATERIALIZED (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1),
        |tri AS MATERIALIZED (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT CAST(coalesce(sum(d * (d - 1) / 2), 0) AS BIGINT)
        |        FROM deg) AS n_wedges,
        |       (SELECT count(*) FROM tri) AS n_triangles,
        |       (SELECT CAST(coalesce(sum(a * 1000003 + b * 1009 + c), 0)
        |               AS BIGINT) FROM tri) AS tri_checksum,
        |       (SELECT CASE WHEN coalesce(sum(d * (d - 1) / 2), 0) = 0
        |               THEN 0.0
        |               ELSE round(3.0 * (SELECT count(*) FROM tri) /
        |                          sum(d * (d - 1) / 2), 6) END
        |        FROM deg) AS global_cc""".stripMargin) { (s, d) =>
      triangleStats(TextOps.exactJaccardPairs(s, d, 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    },

    // BPE ENCODE — the other half of the q142 trainer and what a training-
    // data pipeline actually runs at 100 TB: apply the learned merge rules
    // to every document and count the resulting symbols (the pre-training
    // token budget). The 6 rules are driver-side index metadata (the q48
    // cells pattern — training is sub-linear on the vocabulary table);
    // encoding is then ONE map-side corpus scan — each token is space-
    // wrapped and the rules applied as 6 sequential greedy replaces (the
    // q142 encoding lemma, byte-identical in both engines), so nothing but
    // per-source partials ever shuffles. n_symbols = n_tokens·chars −
    // merge hits, all integers — a FULL hash oracle. The per-token merge
    // application is the codegen'd BpeSymbolSum kernel (round 17) —
    // value-identical to the space-wrapped replace chain the oracle runs
    // (BpeOpsSpec pins the equivalence on adversarial unicode), without
    // the 3×-inflated per-token strings and interpreted HOF boundary that
    // made this the largest number on the blob board (218 s, BENCH_r16).
    Q("q155_bpe_encode", bpeEncodeOracle(6)) { (s, d) =>
      val rules = bpeMerges(s, d, 6).collect()
        .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("lhs"),
          r.getAs[String]("rhs")))
        .sortBy(_._1).map(t => (t._2, t._3)).toSeq
      Tables.documents(s, d)
        .select(col("source"),
          filter(TextOps.tokens(col("text")), t => t =!= "").as("tk"))
        .select(col("source"), size(col("tk")).as("nt"),
          graft.functions.BpeOps.symbolSum(col("tk"), rules).as("ns"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("n_tokens"),
          sum(col("ns")).cast("long").as("n_symbols"))
        .orderBy("source")
    },

    // Per-vertex clustering profile of the near-dup graph — q144's global
    // transitivity localized: for the 20 most triangle-dense documents,
    // degree, triangle count and local clustering coefficient
    // 2·t(v) / (deg·(deg−1)). Dense-cluster members (true duplicate
    // groups) score ~1.0; hub documents that merely bridge clusters score
    // near 0 — the signal a curation pipeline uses to pick cluster
    // CANONICALS vs accidental bridges. Same arboricity-bounded
    // enumeration as q144 (each triangle found once at its lowest-degree
    // apex), then one integer explode-and-count per vertex; selection is
    // by integer (n_tri, v) so the rounded float cc is payload, never a
    // selector. Oracle recomputes orientation-free from the a<b<c
    // three-way join.
    Q("q160_local_clustering",
      s"""WITH ${TextOps.jaccardCtes},
        |e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b
        |  FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter * 2 >= ca.n_sh + cb.n_sh - inter),
        |deg AS (
        |  SELECT v, count(*) AS degree FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tv AS (
        |  SELECT v, count(*) AS n_tri FROM (
        |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT deg.v AS doc_id, degree,
        |       CAST(coalesce(tv.n_tri, 0) AS BIGINT) AS n_tri,
        |       CASE WHEN degree < 2 THEN 0.0
        |            ELSE round((2.0 * coalesce(tv.n_tri, 0)) /
        |                       (degree * (degree - 1)), 6) END AS local_cc
        |FROM deg LEFT JOIN tv ON deg.v = tv.v
        |ORDER BY n_tri DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      localClustering(TextOps.exactJaccardPairs(s, d, 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b")), 20)
    },

    // Zipf's-law fit of the corpus vocabulary — the one-number sanity
    // check of a training corpus' token distribution (natural text slopes
    // ≈ −1; a slope near 0 flags boilerplate/duplication, steeper than
    // −1.5 flags a collapsed vocabulary): OLS of ln(freq) on ln(rank)
    // over the full rank-frequency curve. The frequency-descending rank
    // is GLOBAL, so it runs through [[Ranks.globalIndex]]
    // (range-repartition on (freq DESC, tok), parallel per-partition
    // ranks, one-row-per-block offset broadcast) — no vocabulary-sized
    // SinglePartition sort; the OLS reduces to four double power sums in
    // the same pass (q173's sufficient-statistics shape). The slope/r²
    // divisions happen once, on near-identical accumulations, rounded
    // at 6.
    Q("q225_zipf_fit",
      """WITH v AS (
        |  SELECT tok, count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'))
        |               AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok)
        |               AS DOUBLE)) AS x,
        |         ln(CAST(freq AS DOUBLE)) AS y,
        |         freq
        |  FROM v),
        |m AS (
        |  SELECT count(*) AS n, CAST(sum(freq) AS BIGINT) AS n_tokens,
        |         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
        |         sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_types, n_tokens,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |         AS zipf_slope,
        |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
        |             / n, 6) AS intercept,
        |       round(pow(n * sxy - sx * sy, 2)
        |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |         AS r2
        |FROM m""".stripMargin) { (s, d) =>
      val v = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      Ranks.globalIndex(v, col("freq").desc, col("tok"))
        .select(log(col("idx").cast("double")).as("x"),
          log(col("freq").cast("double")).as("y"), col("freq"))
        .agg(count(lit(1)).as("n"),
          sum(col("freq")).cast("long").as("n_tokens"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").cast("long").as("n_types"), col("n_tokens"),
          round(slope, 6).as("zipf_slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6)
            .as("intercept"),
          round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
    },

    // Unseen-mass estimation — "how much vocabulary has this corpus NOT
    // shown us yet?", the question behind dedup/coverage budgeting and
    // the classic smoothing constants: Good-Turing unseen probability
    // P₀ = n₁/N (mass of singletons) and the bias-corrected Chao1
    // richness bound S + n₁(n₁−1)/(2(n₂+1)) — both pure functions of the
    // frequency-of-frequencies table. Scale shape: tokenize → (token,
    // freq) → (freq, n_types) is two partial-aggregated reductions; the
    // second frame is bounded by the MAX FREQUENCY, not the vocabulary,
    // and the estimators are one-row arithmetic over exact BIGINTs.
    Q("q243_unseen_mass",
      """WITH v AS (
        |  SELECT tok, count(*) AS f
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'))
        |               AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |fof AS (SELECT f, count(*) AS nf FROM v GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(f * nf) AS BIGINT) AS n_tokens,
        |         CAST(sum(nf) AS BIGINT) AS n_types,
        |         CAST(coalesce(sum(CASE WHEN f = 1 THEN nf END), 0)
        |              AS BIGINT) AS n1,
        |         CAST(coalesce(sum(CASE WHEN f = 2 THEN nf END), 0)
        |              AS BIGINT) AS n2
        |  FROM fof)
        |SELECT n_types, n_tokens, n1 AS n_singletons, n2 AS n_doubletons,
        |       round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS p0_unseen,
        |       round(n_types + CAST(n1 AS DOUBLE) * (n1 - 1)
        |             / (2.0 * (n2 + 1)), 6) AS chao1_richness
        |FROM t""".stripMargin) { (s, d) =>
      val fof = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("nf"))
      fof.agg(sum(col("f") * col("nf")).cast("long").as("n_tokens"),
          sum(col("nf")).cast("long").as("n_types"),
          coalesce(sum(when(col("f") === 1, col("nf"))), lit(0L))
            .cast("long").as("n1"),
          coalesce(sum(when(col("f") === 2, col("nf"))), lit(0L))
            .cast("long").as("n2"))
        .select(col("n_types"), col("n_tokens"),
          col("n1").as("n_singletons"), col("n2").as("n_doubletons"),
          round(col("n1").cast("double") / col("n_tokens"), 6)
            .as("p0_unseen"),
          round(col("n_types") + col("n1").cast("double") * (col("n1") - 1)
            / (lit(2.0) * (col("n2") + 1)), 6).as("chao1_richness"))
    },

    // Functional-dependency audit (the Tane/Metanome g3 measure) — the
    // schema-profiling pass that answers "does X determine Y in this
    // data, and how badly is it violated?": for each candidate FD X→Y,
    // g3 = (rows that would have to be DELETED to make the FD hold)/n =
    // Σ_x (n_x − max_y count(x,y)) / n. Three candidate FDs over
    // lineitem audit the order-line grain (an order's lines share
    // neither flag nor status; a part's lines span flags). Scale shape:
    // one scan fans out to (fd, x, y) rows map-side (explode of a
    // 3-struct array — no re-scan per FD), then TWO partial-aggregated
    // reductions — (fd,x,y) counts, then per-(fd,x) argmax — exactly the
    // two-level reduce a 100 TB profiler runs; the final per-FD rollup
    // is 3 rows. The exchange keys stay NARROW the whole way: fd is a
    // 1/2/3 integer and x the raw BIGINT key (neither reaches the
    // output), so the 3n-row shuffle moves ~16 bytes/row instead of a
    // repeated ~24-char label plus a stringified key (~3× the bytes —
    // measured 18–20.5 s → 13 s at sf1; the two-level reduce itself is
    // the honest remaining cost); the labels are restored
    // in the final 3-row select, where their lexical order equals the
    // id order by construction. FULL-hash oracle from exact integer
    // counts.
    Q("q283_fd_audit",
      """WITH f AS (
        |  SELECT 1 AS fd, l_orderkey AS x, l_linestatus AS y FROM lineitem
        |  UNION ALL
        |  SELECT 2, l_orderkey, l_returnflag FROM lineitem
        |  UNION ALL
        |  SELECT 3, l_partkey, l_returnflag FROM lineitem),
        |c AS (SELECT fd, x, y, count(*) AS c FROM f GROUP BY 1, 2, 3),
        |m AS (SELECT fd, x, max(c) AS keep, sum(c) AS n_x
        |      FROM c GROUP BY 1, 2)
        |SELECT CASE fd WHEN 1 THEN 'l_orderkey->l_linestatus'
        |               WHEN 2 THEN 'l_orderkey->l_returnflag'
        |               ELSE 'l_partkey->l_returnflag' END AS fd,
        |       CAST(count(*) AS BIGINT) AS n_lhs,
        |       CAST(sum(n_x) AS BIGINT) AS n_rows,
        |       CAST(sum(n_x - keep) AS BIGINT) AS n_violations,
        |       round(CAST(sum(n_x - keep) AS DOUBLE) / sum(n_x), 6) AS g3
        |FROM m GROUP BY m.fd ORDER BY 1""".stripMargin) { (s, d) =>
      val f = Tables.lineitem(s, d)
        .select(explode(array(
          struct(lit(1).as("fd"), col("l_orderkey").as("x"),
            col("l_linestatus").as("y")),
          struct(lit(2).as("fd"), col("l_orderkey").as("x"),
            col("l_returnflag").as("y")),
          struct(lit(3).as("fd"), col("l_partkey").as("x"),
            col("l_returnflag").as("y")))).as("e"))
        .select(col("e.fd").as("fd"), col("e.x").as("x"), col("e.y").as("y"))
      f.groupBy(col("fd"), col("x"), col("y"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("fd"), col("x"))
        .agg(max(col("c")).as("keep"), sum(col("c")).as("n_x"))
        .groupBy(col("fd"))
        .agg(count(lit(1)).cast("long").as("n_lhs"),
          sum(col("n_x")).cast("long").as("n_rows"),
          sum(col("n_x") - col("keep")).cast("long").as("n_violations"),
          round(sum(col("n_x") - col("keep")).cast("double")
            / sum(col("n_x")), 6).as("g3"))
        .select(
          when(col("fd") === 1, "l_orderkey->l_linestatus")
            .when(col("fd") === 2, "l_orderkey->l_returnflag")
            .otherwise("l_partkey->l_returnflag").as("fd"),
          col("n_lhs"), col("n_rows"), col("n_violations"), col("g3"))
        .orderBy(col("fd"))
    },

    // Heaps' law vocabulary-growth fit — q225's Zipf companion and the
    // other half of corpus-scaling planning: V(N) ≈ K·N^β predicts how the
    // vocabulary (type count) grows as the corpus streams in, i.e. how big
    // the tokenizer/embedding table must be at 10×/100× the data. Docs are
    // ranked in doc_id order and cut into 10 equal prefixes; each prefix
    // records cumulative tokens read and cumulative NEW types (a type
    // counts once, at its first-occurrence prefix), and β/K come from a
    // log-log OLS over the 10 checkpoints. Scale shape: the doc ranking and
    // the doc count are one [[Ranks.groupIndex]] (range repartition +
    // per-block ranks + broadcast offsets — no global-sort funnel); the token
    // stream reduces twice (per-bucket counts, per-type min bucket) and
    // every later frame is ≤10 rows. Cross-engine: cum counts are exact
    // BIGINTs, bucket boundaries are integer `div` arithmetic, and only
    // the final OLS outputs round.
    Q("q291_heaps_fit",
      """WITH dr AS (
        |  SELECT doc_id, text,
        |         row_number() OVER (ORDER BY doc_id) AS rn,
        |         count(*) OVER () AS nd
        |  FROM documents),
        |db AS (
        |  SELECT text,
        |         CAST(least(((rn - 1) * 10) // nd, 9) AS INT) AS bucket
        |  FROM dr),
        |t AS (
        |  SELECT bucket,
        |         unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM db),
        |tc AS (SELECT bucket, count(*) AS n_toks
        |       FROM t WHERE tok <> '' GROUP BY 1),
        |ft AS (SELECT tok, min(bucket) AS bucket
        |       FROM t WHERE tok <> '' GROUP BY 1),
        |nt AS (SELECT bucket, count(*) AS n_new FROM ft GROUP BY 1),
        |c AS (
        |  SELECT b.bucket,
        |         CAST(sum(coalesce(tc.n_toks, 0))
        |              OVER (ORDER BY b.bucket) AS BIGINT) AS cum_tokens,
        |         CAST(sum(coalesce(nt.n_new, 0))
        |              OVER (ORDER BY b.bucket) AS BIGINT) AS cum_types
        |  FROM (SELECT CAST(unnest(range(0, 10)) AS INT) AS bucket) b
        |  LEFT JOIN tc USING (bucket) LEFT JOIN nt USING (bucket)),
        |m AS (
        |  SELECT count(*) AS n,
        |         sum(ln(cum_tokens)) AS sx, sum(ln(cum_types)) AS sy,
        |         sum(ln(cum_tokens) * ln(cum_tokens)) AS sxx,
        |         sum(ln(cum_tokens) * ln(cum_types)) AS sxy
        |  FROM c WHERE cum_tokens > 0 AND cum_types > 0)
        |SELECT c.bucket, c.cum_tokens, c.cum_types,
        |       round((m.n * m.sxy - m.sx * m.sy)
        |             / (m.n * m.sxx - m.sx * m.sx), 6) AS heaps_beta,
        |       round(exp((m.sy - (m.n * m.sxy - m.sx * m.sy)
        |                          / (m.n * m.sxx - m.sx * m.sx) * m.sx)
        |                 / m.n), 4) AS heaps_k
        |FROM c, m ORDER BY c.bucket""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val ranked = Ranks.groupIndex(docs, Nil, col("doc_id"))
        // integer div, not double /: bucket boundaries must be exact at
        // any corpus size (the oracle's `//`)
        .withColumn("bucket",
          least(expr("((idx - 1) * 10) div n"), lit(9L)).cast("int"))
        .select(col("bucket"), col("text"))
      // ONE tokenize+explode, reduced map-side to the (bucket, token)
      // frame (≤ 10×|vocabulary| rows); both the per-bucket token totals
      // and the per-type first-bucket reduction then run on that compact
      // frame instead of re-scanning the token stream
      val g = ranked
        .select(col("bucket"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("bucket"), col("tok")).agg(count(lit(1)).as("c"))
      val tc = g.groupBy("bucket").agg(sum(col("c")).as("n_toks"))
      val nt = g.groupBy("tok").agg(min(col("bucket")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
      val spine = s.range(0, 10).select(col("id").cast("int").as("bucket"))
      val wCum = Window.orderBy(col("bucket"))
      val c = spine.join(tc, Seq("bucket"), "left")
        .join(nt, Seq("bucket"), "left")
        .select(col("bucket"),
          sum(coalesce(col("n_toks"), lit(0L))).over(wCum).cast("long")
            .as("cum_tokens"),
          sum(coalesce(col("n_new"), lit(0L))).over(wCum).cast("long")
            .as("cum_types"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      val m = c.filter(col("cum_tokens") > 0 && col("cum_types") > 0)
        .select(log(col("cum_tokens").cast("double")).as("x"),
          log(col("cum_types").cast("double")).as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
      c.crossJoin(broadcast(m))
        .select(col("bucket"), col("cum_tokens"), col("cum_types"),
          round(slope, 6).as("heaps_beta"),
          round(exp((col("sy") - slope * col("sx")) / col("n")), 4)
            .as("heaps_k"))
        .orderBy(col("bucket"))
    },

    // Integer fixed-point PageRank over the near-dup graph — canonical-doc
    // selection by authority: within a dedup cluster the doc most linked
    // by near-duplicates is the natural keeper (an alternative to q82's
    // min-id rule that prefers the most-copied version). Five unrolled
    // power iterations of r'(v) = 0.15 + 0.85·Σ r(u)/deg(u) in EXACT
    // MILLIONTH fixed point: each contribution is
    // (r·850000) // (deg·1e6) — floor division on nonnegative integers,
    // identical in both engines, so the oracle is a FULL hash match (the
    // q140 Markov stationary unrolls the same way but in rounded doubles
    // on a bounded 12-node chain; THIS graph is corpus-sized). Scale
    // shape: the classic distributed PageRank plan — per iteration ONE
    // join of the edge list with the rank frame on the source key and ONE
    // reduce on the destination key, both hash-partitioned by node so AQE
    // reuses the exchange across iterations; 5 iterations = a fixed
    // 10-shuffle pipeline over the (sparse) near-dup edge set, never over
    // the corpus. r·850000 ≤ deg_max·1e6·8.5e5 stays far inside BIGINT
    // for any realistic near-dup degree; mass is NOT renormalized (the
    // floor drift stays in the output's exactness contract).
    Q("q314_dedup_pagerank", {
      val head =
        s"""WITH ${TextOps.jaccardCtes},
          |pr AS (
          |  SELECT doc_a, doc_b FROM p
          |  JOIN cnt ca ON p.doc_a = ca.doc_id
          |  JOIN cnt cb ON p.doc_b = cb.doc_id
          |  WHERE inter * 2 >= ca.n_sh + cb.n_sh - inter),
          |e AS (SELECT doc_a AS u, doc_b AS v FROM pr
          |      UNION ALL SELECT doc_b, doc_a FROM pr),
          |n AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
          |      FROM e GROUP BY 1),
          |r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS r FROM n)""".stripMargin
      val steps = (1 to 5).map { i =>
        s"""r$i AS (
          |  SELECT n.node, n.deg,
          |         150000 + coalesce(s.m, 0) AS r
          |  FROM n LEFT JOIN (
          |    SELECT e.v AS node,
          |           CAST(sum((pr.r * 850000) // (pr.deg * 1000000))
          |             AS BIGINT) AS m
          |    FROM e JOIN r${i - 1} pr ON e.u = pr.node GROUP BY 1) s
          |  USING (node))""".stripMargin
      }.mkString(",\n")
      s"""$head,
        |$steps
        |SELECT node AS doc_id, deg, CAST(r AS BIGINT) AS rank_micro
        |FROM r5 ORDER BY doc_id""".stripMargin
    }) { (s, d) => dedupPagerankImpl(s, d, Adaptive.LocalMaxRows) },

    // k-anonymity / l-diversity audit — the privacy screen a corpus runs
    // before release: treating (source, lang) as the quasi-identifier and
    // the exact document length as the sensitive attribute, how many rows
    // sit in equivalence classes smaller than k (re-identifiable at that
    // k), and does any class have fewer than l distinct sensitive values
    // (attribute disclosure even when k holds)? One corpus scan reduces
    // to ≤|source|·|lang| classes (count + distinct-length per class,
    // map-side partial); the k ∈ {2, 5, 10} sweep is conditional
    // aggregation over that broadcast-sized frame. All-integer, FULL hash
    // oracle.
    Q("q315_k_anonymity",
      """WITH g AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS sz,
        |         CAST(count(DISTINCT n_chars) AS BIGINT) AS l_div
        |  FROM documents GROUP BY 1, 2),
        |ks AS (SELECT * FROM (VALUES (2), (5), (10)) v(k))
        |SELECT k,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_violating,
        |       CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |         AS rows_at_risk,
        |       CAST(min(sz) AS BIGINT) AS min_class,
        |       CAST(min(l_div) AS BIGINT) AS min_l_diversity
        |FROM g CROSS JOIN ks GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("sz"),
          countDistinct(col("n_chars")).as("l_div"))
      val ks = s.range(1).select(
        explode(array(lit(2), lit(5), lit(10))).as("k"))
      g.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("sz") < col("k"), 1L).otherwise(0L))
            .as("n_violating"),
          sum(when(col("sz") < col("k"), col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          min(col("sz")).as("min_class"),
          min(col("l_div")).as("min_l_diversity"))
        .orderBy(col("k"))
    }
  )

  /** Per-vertex (degree, triangle count, local clustering coefficient) for
    * the k most triangle-dense vertices — q160's engine, spec-visible so
    * known graphs (cliques score 1.0, stars 0.0) pin the arithmetic. */
  private[graft] def localClustering(edgeList: DataFrame, k: Int): DataFrame = {
    val (_, deg, tris) = triangleParts(edgeList)
    // each (u,x,y) triangle touches its three corners once: one explode,
    // one integer count per vertex — no per-neighbor-pair recount
    val perVertex = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(perVertex, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0)).cast("long").as("n_tri"))
      .withColumn("local_cc",
        when(col("degree") < 2, lit(0.0))
          .otherwise(round((lit(2.0) * col("n_tri")) /
            (col("degree") * (col("degree") - 1)), 6)))
      .orderBy(col("n_tri").desc, col("doc_id"))
      .limit(k)
  }

  /** Compact-forward triangle enumeration over an undirected edge list
    * (a < b, no duplicates): returns the checkpointed (edges, degree,
    * triangles) trio shared by q144's global statistics and q160's
    * per-vertex clustering profile. Triangles come out as (u, x, y) with u
    * the wedge apex — each triangle exactly once. */
  private def triangleParts(edgeList: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ckpt(a): q144/q160 degrees, orientation + edge count; lazy 2.2× at sf0.1 (BENCH_NOTES)
    val edges = edgeList.eagerCkpt
    val deg = edges.select(col("a").as("v"))
      .unionByName(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      // ckpt(a): q144/q160 both orientation joins; lazy 2.2× at sf0.1 (BENCH_NOTES)
      .eagerCkpt
    // orient every edge from its lower-(degree, id) endpoint: wedges
    // form only at low-degree vertices, bounding fan-out by arboricity
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aLow = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aLow, col("a")).otherwise(col("b")).as("u"),
        when(aLow, col("b")).otherwise(col("a")).as("w"),
        when(aLow, col("db")).otherwise(col("da")).as("dw"))
      // ckpt(a): q144/q160 both wedge sides + closing join; lazy 2.2× at sf0.1 (BENCH_NOTES)
      .eagerCkpt
    // wedge at u between its out-neighbors x < y in (degree, id) order;
    // the connecting edge, if present, is stored oriented (x, y)
    val e1 = oriented.select(col("u"), col("w").as("x"), col("dw").as("dx"))
    val e2 = oriented.select(col("u"), col("w").as("y"), col("dw").as("dy"))
    val wedges = e1.join(e2, "u")
      .filter((col("dx") < col("dy")) ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges.join(
        oriented.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
      // ckpt(a): q144/q160 triangle stats; lazy 2.2× at sf0.1 (BENCH_NOTES)
      .eagerCkpt
    (edges, deg, tris)
  }

  /** Degree-ordered triangle/wedge statistics over an undirected edge list
    * (a < b, no duplicates). See q144 for the algorithm; spec-visible so
    * known graphs (cliques, chains) pin the enumeration. */
  private[graft] def triangleStats(edgeList: DataFrame): DataFrame = {
    val (edges, deg, tris) = triangleParts(edgeList)
    // canonical (ascending-id) triangle labels for the checksum
    val na = least(col("u"), col("x"), col("y"))
    val nc = greatest(col("u"), col("x"), col("y"))
    val nb = col("u") + col("x") + col("y") - na - nc
    // coalesce: on an EMPTY edge list the wedge sum is NULL while the q144
    // oracle's coalesce(sum(...), 0) yields 0 — and a NULL n_wedges would
    // also null global_cc through the `otherwise` branch below
    deg.agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0))
          .cast("long").as("n_wedges"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tris.agg(
        count(lit(1)).as("n_triangles"),
        coalesce(sum(na * 1000003 + nb * 1009 + nc), lit(0))
          .cast("long").as("tri_checksum")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("tri_checksum"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("global_cc"))
  }

  /** Driver-local exact integer PageRank — the SAME millionth fixed-point
    * arithmetic as the distributed loop (floor division on nonnegative
    * longs, contributions summed per destination, 150000 + 0.85·mass),
    * so the two paths are bit-identical; equality is pinned in
    * ProfilingSpec on a fixture graph via the forced-path impl param. */
  private[graft] def localPagerank(edges: Array[(Long, Long)])
      : Seq[(Long, Long, Long)] = {
    val deg = new java.util.HashMap[Long, Long]()
    edges.foreach { case (u, _) =>
      deg.merge(u, 1L, (a, b) => a + b)
    }
    var r = new java.util.HashMap[Long, Long]()
    deg.keySet.forEach(k => r.put(k, 1000000L))
    for (_ <- 1 to 5) {
      val m = new java.util.HashMap[Long, Long]()
      edges.foreach { case (u, v) =>
        val c = Math.floorDiv(r.get(u) * 850000L, deg.get(u) * 1000000L)
        m.merge(v, c, (a, b) => a + b)
      }
      val next = new java.util.HashMap[Long, Long]()
      deg.keySet.forEach(k =>
        next.put(k, 150000L + m.getOrDefault(k, 0L)))
      r = next
    }
    import scala.jdk.CollectionConverters._
    deg.keySet.asScala.toSeq.sorted
      .map(k => (k, deg.get(k), r.get(k)))
  }

  /** q314's engine with the local-path edge bound exposed for the
    * ProfilingSpec path-equality pin (-1 forces the distributed loop). A
    * near-dup graph proven small by [[graft.Adaptive.collectIfSmall]]
    * runs the 5 power iterations on the driver instead of as ~15
    * scheduled join/aggregate jobs (the sf0.1 graph has ~160 nodes, and
    * each distributed iteration pays ~0.3 s of job-launch and shuffle
    * machinery on it). */
  private[graft] def dedupPagerankImpl(s: SparkSession, d: String,
      localMaxEdges: Long): DataFrame = {
    val pairs = TextOps.exactJaccardPairs(s, d, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val e = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      // ckpt(a): collectIfSmall's probe + collect jobs or each distributed round read it
      .toDF("u", "v").eagerCkpt
    import s.implicits._
    Adaptive.collectIfSmall[(Long, Long)](e, localMaxEdges) match {
      case Some(es) => localPagerank(es)
        .toDF("doc_id", "deg", "rank_micro").orderBy("doc_id")
      case None => distributedPagerank(e)
    }
  }

  /** The 5 fixed-point power iterations as join/aggregate rounds over the
    * checkpointed directed edge list (u, v). */
  private def distributedPagerank(e: DataFrame): DataFrame = {
    val n = e.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    var r = n.select(col("node"), col("deg"), lit(1000000L).as("r"))
    for (_ <- 1 to 5) {
      val contrib = e
        .join(r.select(col("node").as("u"), col("deg"), col("r")), "u")
        .select(col("v").as("node"),
          Ranks.intDiv(col("r") * 850000L, col("deg") * 1000000L).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      r = n.join(contrib, Seq("node"), "left")
        .select(col("node"), col("deg"),
          (lit(150000L) + coalesce(col("m"), lit(0L))).as("r"))
    }
    r.select(col("node").as("doc_id"), col("deg"),
      col("r").as("rank_micro")).orderBy(col("doc_id"))
  }

  /** The q142 BPE trainer, parameterized on merge count (spec-visible).
    *
    * Symbol-sequence encoding: each word's symbols are kept as ONE string
    * with every symbol wrapped in single spaces (`' a  b  c '`). Applying
    * merge (a,b) is then a plain `replace(s, ' a  b ', ' ab ')` — SQL
    * replace is greedy left-to-right non-overlapping, which is exactly
    * BPE's application order, and the double-space wrapping means a
    * consumed occurrence never eats the NEXT candidate's leading
    * separator (the classic single-separator encoding misses every second
    * adjacent match). Works identically in Spark and DuckDB, so the
    * oracle replays the byte-identical algorithm. Symbols never contain
    * spaces (tokens are whitespace-split), so the encoding is unambiguous
    * and the pair string `"a b"` compares exactly like the (a, b) tuple
    * (the separator 0x20 sorts below every symbol byte).
    *
    * Scale shape: ONE corpus scan reduces to (token, freq) — every merge
    * iteration runs on the VOCABULARY table (sub-linear in corpus size;
    * this is why BPE trainers scale), with a partial-aggregated pair
    * count and a map-side replace. Only the 6 argmax rows (one scalar
    * merge decision per iteration) ever cross the driver — the same
    * scalar-bound exception as q140's node count. Deterministic
    * tie-break: max count, then lexicographically smallest pair.
    *
    * INCREMENTAL pair counts (round 17): the pair table is built from the
    * full vocabulary ONCE, then maintained by delta — merging (a, b) only
    * changes the bigram multisets of words whose encoding CONTAINS the
    * space-wrapped pattern `' a  b '` (the encoding lemma makes that
    * containment test exact symbol adjacency; untouched words are
    * byte-identical under the replace). Per merge: one map-side contains
    * filter over the vocabulary, the bigram explode over ONLY the hit
    * words (before and after rewrite, subtract/add), and a union-sum on
    * the small pair table. Counts are maintained exactly — same argmax,
    * same tie-break, same FULL-hash oracle — but the per-merge explode
    * drops from every word to the hit set, which is what the adversarial
    * blob vocabulary (2.3M unique 64-char hex types, no pair ever reaches
    * count 2, so ~1 hit word per merge) needs: the r16 board spent 145 s
    * re-exploding 145M unchanged bigrams per iteration (classic BPE
    * trainers maintain pair counts incrementally for exactly this
    * reason — Sennrich et al. 2016's reference implementation does). */
  /** Adaptive-path bounds for [[bpeMerges]]: a vocabulary PROVEN (by a
    * one-row aggregate over the checkpointed vocab) to be at most this
    * many types and this many encoded chars runs the merge loop on the
    * driver instead of as ~4 scheduled jobs per merge. The distributed
    * loop is correct at any size but pays ~1.5 s of pure job-launch +
    * checkpoint overhead PER MERGE on a tiny table (measured: the driver
    * corpus has 31 types / 82 distinct pairs, and the round-17 incremental
    * trainer regressed q142 from 1.7 s to 2.9 s on the sf0.1 board —
    * the round-17 phase table in BENCH_NOTES puts HIT+DELTA+VOCAB at
    * 0.9–2.1 s per merge on 31 rows, all scheduling). The bound keeps
    * the collect trivially driver-safe (≤64Ki rows, ≤16M chars ≈ ≤64 MB)
    * while any Heaps-law 100 TB vocabulary (blob shape: 3.06M types)
    * stays on the distributed incremental path. Guide §1.2: the
    * distributed algorithm is the thing to fix first — and "don't
    * distribute a 31-row loop" is that fix. */
  private[graft] val LocalVocabMaxTypes = 65536L
  private[graft] val LocalVocabMaxChars = 16L << 20

  /** Driver-local exact BPE merge loop over a bounded vocabulary — the
    * SAME counting walk (the [[graft.functions.BpePairCounts]] reduce),
    * the SAME argmax order (count desc, then UTF-8-byte-lexicographic
    * pair asc — Spark string sort is UTF8String binary order, which is
    * UTF-8 byte order, NOT Java's UTF-16 compareTo; they diverge on
    * supplementary-plane symbols), and the SAME left-to-right
    * non-overlapping literal replace (Java String.replace ≡ Spark
    * StringReplace). Pair counts are recomputed from the rewritten
    * vocabulary each iteration — exact, and at ≤16M chars the full
    * recount is microseconds. Equality with the distributed path is
    * pinned in ProfilingSpec on both fixture and random vocabularies. */
  private[graft] def localBpeMerges(vocab: Array[(Long, String)],
      merges: Int): Seq[(Int, String, String, Long)] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def utf8Less(x: String, y: String): Boolean = {
      val a = x.getBytes(utf8); val b = y.getBytes(utf8)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    val counter = new graft.functions.BpePairCounts()
    var words = vocab
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to merges) {
      val m = new java.util.HashMap[String, Array[Long]]()
      words.foreach { case (freq, enc) => counter.reduce(m, (enc, freq)) }
      var bestPair: String = null
      var bestC = 0L
      m.forEach { (pair, c) =>
        if (bestPair == null || c(0) > bestC ||
            (c(0) == bestC && utf8Less(pair, bestPair))) {
          bestPair = pair
          bestC = c(0)
        }
      }
      // identical failure mode to the distributed `.limit(1).head()` on an
      // exhausted pair table (a corpus of single-symbol words)
      if (bestPair == null)
        throw new NoSuchElementException("next on empty iterator")
      val Array(a, b) = bestPair.split(" ", 2)
      out += ((k, a, b, bestC))
      if (k < merges) {
        val pat = s" $a  $b "
        val rep = s" $a$b "
        words = words.map { case (f, enc) => (f, enc.replace(pat, rep)) }
      }
    }
    out.result()
  }

  private[graft] def bpeMerges(s: SparkSession, d: String,
      merges: Int): DataFrame =
    bpeMergesImpl(s, d, merges, LocalVocabMaxTypes)

  /** [[bpeMerges]] with the local-path type bound exposed for the
    * ProfilingSpec path-equality pin (-1 forces the distributed loop,
    * Long.MaxValue forces local whenever the char bound also holds). */
  private[graft] def bpeMergesImpl(s: SparkSession, d: String,
      merges: Int, localMaxTypes: Long): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(" "),
          array_join(filter(split(col("tok"), ""), x => x =!= ""), "  "),
          lit(" ")).as("s"))
      // spread the vocabulary across the session's parallelism, do NOT
      // coalesce(1): "the vocabulary is small" is a NATURAL-text property,
      // and the blob shape board (round 15) broke it — high-entropy token
      // streams (hex blobs: ~2.3M distinct 64-char tokens from 200 MB of
      // payload) put the per-merge char-pair explode, an interpreted HOF
      // whose CPU-per-byte dwarfs the scan, onto ONE core for 20+ min per
      // merge. For a natural-text vocab the extra partitions are empty-ish
      // ~ms tasks; for an adversarial vocab they are the difference
      // between serial and parallel training.
      // ckpt(a): collectIfSmall's probe + collect jobs and the merge loop read it
      .repartition(s.sparkContext.defaultParallelism).eagerCkpt
    // a PROVEN-small vocabulary runs the merge loop driver-local; see
    // LocalVocabMaxTypes
    import s.implicits._
    Adaptive.collectIfSmall[(Long, String)](words, localMaxTypes,
        length(col("s")), LocalVocabMaxChars) match {
      case Some(vocab) => localBpeMerges(vocab, merges)
        .toDF("merge_rank", "lhs", "rhs", "pair_count").orderBy("merge_rank")
      case None => distributedBpeMerges(words, merges)
    }
  }

  /** The round-17 incremental merge loop over the checkpointed (freq, s)
    * vocabulary (the trainer doc above [[LocalVocabMaxTypes]]). */
  private def distributedBpeMerges(words: DataFrame,
      merges: Int): DataFrame = {
    // weighted bigram counts of a vocabulary slice (shared by the initial
    // build and every delta) — ONE mergeable typed aggregate walking each
    // encoded string in place; the explode/groupBy form materialized ~190M
    // interpreted pair rows on the blob vocabulary and was 102 s of the
    // 129 s trainer, measured phase by phase (BENCH_NOTES, round 17 BPE table)
    def pairsOf(df: DataFrame): DataFrame = {
      val pc = udaf(new graft.functions.BpePairCounts(),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      df.agg(pc(col("s"), col("freq")).as("m"))
        .select(explode(col("m")))
        .select(col("key").as("pair"), col("value").as("c"))
    }
    var vocab = words
    // ckpt(c): BPE merge loop state; each merge's head() job reads it
    var counts = pairsOf(words).eagerCkpt
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to merges) {
      val best = counts.orderBy(col("c").desc, col("pair")).limit(1).head()
      val Array(a, b) = best.getAs[String]("pair").split(" ", 2)
      out += ((k, a, b, best.getAs[Long]("c")))
      if (k < merges) { // the last rule needs no maintenance
        val pat = s" $a  $b "
        // hit words are read twice (pre- and post-rewrite pair counts) →
        // checkpoint them. The full vocabulary IS still checkpointed per
        // merge: an A/B at blob shape (BENCH_NOTES round 17) showed the
        // lazily-chained alternative — re-applying k pending replaces over
        // the one words checkpoint per scan — measures SLOWER end-to-end
        // (100 s vs 60 s trainer) and far noisier: the chain re-allocates every encoded
        // string k times per pass, and two passes consume each snapshot
        // (HIT filter + next merge), so materializing once wins.
        // ckpt(c): BPE merge loop; counts update + vocab rewrite read it
        val hit = vocab.filter(col("s").contains(pat)).eagerCkpt
        val rewritten = hit.withColumn("s",
          replace(col("s"), lit(pat), lit(s" $a$b ")))
        counts = counts
          .union(pairsOf(rewritten))
          .union(pairsOf(hit).select(col("pair"), (-col("c")).as("c")))
          .groupBy("pair").agg(sum(col("c")).cast("long").as("c"))
          .filter(col("c") > 0)
          .eagerCkpt // ckpt(c): BPE merge loop state
        vocab = vocab
          .withColumn("s", replace(col("s"), lit(pat), lit(s" $a$b ")))
          .eagerCkpt // ckpt(c): BPE merge loop state
      }
    }
    val sq = words.sparkSession
    import sq.implicits._
    out.result().toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** The byte-identical unrolled oracle for [[bpeMerges]]. */
  /** The q142 training CTE chain (w/v0 + per-merge pK/bK/vK), shared with
    * the q155 encode oracle so both replay the byte-identical trainer. */
  private[graft] def bpeCtes(merges: Int): String = {
    val head =
      s"""WITH w AS MATERIALIZED (
         |  SELECT tok, count(*) AS freq FROM (
         |    SELECT unnest(${TextOps.duckTokens}) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY 1),
         |v0 AS MATERIALIZED (
         |  SELECT freq,
         |         ' ' || array_to_string(string_split_regex(tok, ''), '  ')
         |             || ' ' AS s
         |  FROM w)""".stripMargin
    val steps = (1 to merges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT x || ' ' || y AS pair, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (
         |    SELECT freq,
         |           unnest(list_transform(range(1, len(a)), i -> a[i])) AS x,
         |           unnest(list_transform(range(1, len(a)), i -> a[i + 1])) AS y
         |    FROM (SELECT freq, string_split(trim(s, ' '), '  ') AS a
         |          FROM v${k - 1})
         |    WHERE len(a) > 1)
         |  GROUP BY 1),
         |b$k AS MATERIALIZED (
         |  SELECT pair, c FROM p$k ORDER BY c DESC, pair LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT freq,
         |         replace(s,
         |           ' ' || string_split(pair, ' ')[1] || '  '
         |               || string_split(pair, ' ')[2] || ' ',
         |           ' ' || string_split(pair, ' ')[1]
         |               || string_split(pair, ' ')[2] || ' ') AS s
         |  FROM v${k - 1} CROSS JOIN b$k)""".stripMargin
    }.mkString(",\n")
    // plain concatenation — a final stripMargin would re-strip interpolated
    // lines whose first non-blank chars are the `||` concat operator
    head + ",\n" + steps
  }

  private[graft] def bpeOracle(merges: Int): String = {
    val rows = (1 to merges).map { k =>
      s"""SELECT $k AS merge_rank, string_split(pair, ' ')[1] AS lhs,
         |       string_split(pair, ' ')[2] AS rhs, c AS pair_count FROM b$k"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    bpeCtes(merges) + "\n" + rows + "\nORDER BY merge_rank"
  }

  /** q155 oracle: replay the q142 trainer, then APPLY its merge rules to
    * every document token and count the resulting symbols. The six (lhs,
    * rhs) rules ride a one-row cross join; the apply is the same six
    * sequential space-wrapped replaces both engines run byte-identically.
    * coalesce: list_sum of an empty token list is NULL in DuckDB where
    * Spark's aggregate fold returns its 0 seed. */
  private[graft] def bpeEncodeOracle(merges: Int): String = {
    val ruleCols = (1 to merges).map { k =>
      s"""    (SELECT string_split(pair, ' ')[1] FROM b$k) AS l$k,
         |    (SELECT string_split(pair, ' ')[2] FROM b$k) AS r$k"""
        .stripMargin
    }.mkString(",\n")
    val sym = {
      val enc = "' ' || array_to_string(list_filter(string_split_regex(t, ''), " +
        "c -> c <> ''), '  ') || ' '"
      val applied = (1 to merges).foldLeft(enc) { (acc, k) =>
        s"replace($acc,\n        ' ' || l$k || '  ' || r$k || ' ', " +
          s"' ' || l$k || r$k || ' ')"
      }
      s"len(string_split(trim($applied, ' '), '  '))"
    }
    bpeCtes(merges) + ",\n" +
      s"""m AS MATERIALIZED (
         |  SELECT
         |$ruleCols),
         |dd AS (
         |  SELECT source, list_filter(${TextOps.duckTokens}, t -> t <> '') AS tk, m.*
         |  FROM documents CROSS JOIN m)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
         |       CAST(sum(coalesce(list_sum(list_transform(tk, t -> $sym)), 0))
         |            AS BIGINT) AS n_symbols
         |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The q140 power iteration, parameterized on depth (the spec compares
    * depth 12 vs 13 to pin convergence). */
  private[graft] def stationary(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    val pairs = Events.transitionMatrix(Tables.events(s, d))
    // P(next|cur): per-src normalized counts; tiny frame from here on.
    val edges = pairs
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .select(col("event_type").as("src"), col("next_type").as("dst"),
        (col("n").cast("double") / col("tot")).as("p"))
      // |event_types|² rows: one partition keeps every iteration's jobs at
      // 1-2 tasks instead of shuffle.partitions-many empty ones (the edge
      // table would be hash-partitioned by src at real graph scale)
      // ckpt(a): every power-iteration job reads the edge table
      .coalesce(1).eagerCkpt
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      // ckpt(a): the count() job and every power-iteration job read it
      .distinct().coalesce(1).eagerCkpt
    val nN = nodes.count()
    var rank = nodes.withColumn("r", lit(1.0 / nN))
    for (_ <- 1 to iters) {
      val contrib = rank.join(edges, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") * col("p")).as("inflow"))
      // dangling nodes (no outgoing edges) leak their mass; collect it
      // and hand it back uniformly — the standard PageRank repair.
      val dangling = rank.join(edges.select(col("src")).distinct(),
          col("node") === col("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
      rank = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(0.15 / nN) + lit(0.85) *
            (coalesce(col("inflow"), lit(0.0)) + col("dm") / nN)).as("r"))
        .eagerCkpt // ckpt(c): power-iteration state
    }
    rank.select(col("node").as("event_type"), round(col("r"), 6).as("rank"))
      .orderBy("event_type")
  }

  /** Unrolled power-iteration oracle: r0 = uniform; r{k+1}(dst) =
    * 0.15/N + 0.85·(Σ_src r{k}(src)·P(dst|src) + dangling{k}/N). The CTE
    * chain mirrors the Spark loop exactly — same damping, same dangling
    * repair, same iteration count. */
  private[graft] def markovOracle(iters: Int): String = {
    // Each r{k} is referenced twice by r{k+1} (dangling scan + inflow
    // join); DuckDB inlines CTEs by default, which would expand the chain
    // 2^iters-fold (and re-open the parquet per inlined `ed`) — every CTE
    // is pinned AS MATERIALIZED so the oracle evaluates each step once.
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT event_type AS src,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS dst
        |  FROM events),
        |m AS MATERIALIZED (
        |  SELECT src, dst, count(*) AS n FROM e
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |ed AS MATERIALIZED (
        |  SELECT src, dst,
        |         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p
        |  FROM m),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed
        |          UNION SELECT DISTINCT dst FROM ed),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS MATERIALIZED (
        |  SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT coalesce(sum(r), 0.0) AS dm FROM r${k - 1}
         |  WHERE node NOT IN (SELECT DISTINCT src FROM ed)),
         |r$k AS MATERIALIZED (
         |  SELECT nodes.node,
         |         0.15 / n + 0.85 * (coalesce(inflow, 0.0) + dm / n) AS r
         |  FROM nodes CROSS JOIN nn CROSS JOIN d$k
         |  LEFT JOIN (SELECT ed.dst AS node, sum(r * p) AS inflow
         |             FROM r${k - 1} JOIN ed ON r${k - 1}.node = ed.src
         |             GROUP BY 1) i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$steps
       |SELECT node AS event_type, round(r, 6) AS rank
       |FROM r$iters ORDER BY event_type""".stripMargin
  }
}
