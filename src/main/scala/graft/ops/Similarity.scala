package graft.ops

import graft.{Q, Tables}
import graft.functions.ArrayMath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Similarity search over `embeddings.embedding: array<float>`
  * (BASELINE.json north star). All inner kernels run through the codegen'd
  * graft.functions.DotProduct expression — a tight primitive loop inside
  * whole-stage codegen — which accumulates in double precision in ascending
  * index order, exactly like DuckDB's list_* fold, so cosine values are
  * bit-comparable across engines.
  *
  * Scale notes: brute-force kNN is the correctness baseline (O(Q·N·dim),
  * query side broadcast — no shuffle). Two scale paths are implemented:
  * banded random-hyperplane LSH (one shuffle on the (band, bucket) key;
  * candidate generation is bucket-local) and IVF (k-means cell index; probe
  * the nearest cells only). MinHash-LSH plays the same role for set
  * similarity (near-dup text, see q36).
  */
object Similarity {

  /** Greedy MMR selection over a bounded shortlist (q236): `rel` is the
    * candidate list as (id, relevance) sorted by (relevance desc, id);
    * `sim` maps unordered candidate pairs (stored both ways) to their
    * similarity. Deterministic: score ties break to the lower id. Pure
    * driver-side function — the shortlist is bounded by construction
    * (see the q236 scale note). */
  private[graft] def mmrSelect(rel: Seq[(Long, Double)],
      sim: Map[(Long, Long), Double], k: Int, lambda: Double): Vector[Long] = {
    require(rel.nonEmpty)
    var selected = Vector(rel.head._1)
    while (selected.size < math.min(k, rel.size)) {
      val best = rel.filterNot(c => selected.contains(c._1))
        .map { case (id, r0) =>
          val pen = selected.map(s0 => sim((id, s0))).max
          (id, lambda * r0 - (1 - lambda) * pen)
        }
        .maxBy { case (id, sc) => (sc, -id) }
      selected :+= best._1
    }
    selected
  }

  /** Independent replay of the MMR greedy contract over a finished
    * selection: the first pick must be the relevance argmax, and every
    * later pick must have maximized λ·rel − (1−λ)·max-sim-to-selected over
    * the candidates remaining AT THAT STEP (ties broken toward the lower
    * id, matching [[mmrSelect]]). This is the check q236 emits as
    * `greedy_ok` — a property verification, not a re-run of the selector.
    */
  private[graft] def mmrGreedyOk(rel: Seq[(Long, Double)],
      sim: Map[(Long, Long), Double], selected: Vector[Long],
      k: Int, lambda: Double): Boolean = {
    val relMap = rel.toMap
    selected.size == math.min(k, rel.size) &&
      selected.distinct.size == selected.size &&
      selected.forall(relMap.contains) &&
      selected.head == rel.maxBy { case (id, r0) => (r0, -id) }._1 &&
      (1 until selected.size).forall { i =>
        val prefix = selected.take(i)
        val remaining = rel.map(_._1).filterNot(prefix.contains)
        val mmr: Long => Double = id =>
          lambda * relMap(id) - (1 - lambda) * prefix.map(s0 => sim((id, s0))).max
        selected(i) == remaining.maxBy(id => (mmr(id), -id))
      }
  }

  val queries: Seq[Q] = Seq(

    // Brute-force cosine kNN (correctness baseline; oracle recomputes the
    // identical double-precision fold via DuckDB list lambdas).
    Q("q33_knn_cosine",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |sims AS (
        |  SELECT q.query_id, c.neighbor_id,
        |         list_sum(list_transform(range(1, len(cv) + 1),
        |             i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |                i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |                i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))))
        |           AS sim_raw
        |  FROM c CROSS JOIN q)
        |SELECT query_id, neighbor_id, round(sim_raw, 6) AS sim, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim_raw DESC, neighbor_id) AS INT) AS rank
        |  FROM sims)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      knn(emb.filter(col("vec_id") < 5), emb, 10)
        .orderBy("query_id", "rank")
    },

    // Near-duplicate embedding pairs above a cosine threshold, brute-force
    // over a BOUNDED query slice (vec_id < 200) against the full corpus —
    // the q33 shape: the slice broadcasts, the corpus never shuffles, and
    // no cartesian product appears in any plan (the old unbounded all-pairs
    // cross join was the repo's one scale-killer). This is how one verifies
    // similarity ground truth at 100 TB: exact answers on a sampled slice
    // (the scale paths over the full corpus are q35/q48, whose recall q35
    // now measures against this same slice in-engine). Norms are computed
    // once per vector before the join; the per-pair kernel is a single
    // codegen'd dot product. The oracle normalizes identically so the fold
    // is the same in both engines.
    Q("q34_similar_pairs",
      """WITH n AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |           sqrt(list_sum(list_transform(embedding,
        |                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
        |  FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0),
        |sims AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_sum(list_transform(range(1, len(a.nv) + 1),
        |             i -> a.nv[i] * b.nv[i])) AS sim_raw
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 200)
        |SELECT vec_a, vec_b, round(sim_raw, 6) AS sim
        |FROM sims WHERE sim_raw >= 0.5 ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      exactCosinePairs(s, d, qBound = 200, threshold = 0.5)
        .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 6).as("sim"))
        .orderBy("vec_a", "vec_b")
    },

    // ANN scale path: banded random-hyperplane LSH (32 bands × 6 bits),
    // exact cosine only on bucket-colliding candidates. Candidate pairs are
    // deduplicated as bare (id, id) keys — vectors are re-joined afterwards,
    // the shape that keeps the candidate shuffle narrow at 100 TB.
    //
    // Oracle-checked via the q49 property pattern (hashes are engine-
    // specific, the index VALIDATION is not): on the q34 sampled slice the
    // exact pair count is DuckDB-recomputable, and the in-engine booleans
    // assert (a) precision 1 — every LSH pair in the slice is a true pair
    // (exact cosine is verified on candidates, so the anti-join must be
    // empty) and (b) recall ≥ 80% at threshold 0.4 (seeded hyperplanes →
    // fully deterministic; measured 36/38 = 0.947 on this corpus at sf0.01,
    // dominated by the 0.4–0.5 band where 32×6-bit banding predicts ≈0.87).
    // (Precision is checked against a reference relaxed by 1e-6: the LSH
    // side filters on a rounded cosine computed as dot/(|a||b|) while the
    // reference dots pre-normalized arrays — identical values except
    // possibly the last float ulps at the exact threshold, which must not
    // flip a zero-tolerance subset check. The ORACLE count stays at the
    // strict threshold, where the reference fold is bit-identical to
    // DuckDB's by construction.)
    Q("q35_ann_lsh",
      """WITH n AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |           sqrt(list_sum(list_transform(embedding,
        |                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
        |  FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0),
        |sims AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_sum(list_transform(range(1, len(a.nv) + 1),
        |             i -> a.nv[i] * b.nv[i])) AS sim_raw
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 200)
        |SELECT count(*) AS n_exact,
        |       CAST(1 AS BOOLEAN) AS precision_ok,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM sims WHERE sim_raw >= 0.4""".stripMargin) { (s, d) =>
      // ONE pass of the broadcast-BNLJ kernel at the relaxed threshold;
      // the strict set is a filter over it.
      val exactAll = exactCosinePairs(s, d, qBound = 200,
        threshold = 0.4 - 1e-6)
        .select(col("vec_a"), col("vec_b"), col("sim_raw"))
      val exact = exactAll.filter(col("sim_raw") >= 0.4).select("vec_a", "vec_b")
      val exactRelaxed = exactAll.select("vec_a", "vec_b")
      val lsh = annLsh(s, d, threshold = 0.4)
        .filter(col("vec_a") < 200).select("vec_a", "vec_b")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.join(exactRelaxed, Seq("vec_a", "vec_b"), "left_anti")
          .agg(count(lit(1)).as("n_false")))
        .crossJoin(lsh.join(exact, Seq("vec_a", "vec_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(
          col("n_exact"),
          (col("n_false") === 0).as("precision_ok"),
          (col("n_hit") >= col("n_exact") * 0.8).as("recall_ok"))
    },

    // IVF scale path: k-means cell index over the corpus (the "train the
    // index" step), queries probe their 2 nearest cells, exact cosine only
    // within probed cells.
    //
    // Oracle-checked properties (centroids are engine-specific): result
    // cardinality is exactly queries × topK (every query fills its top-5 —
    // DuckDB recomputes the query count), every query's rank-1 hit is
    // itself at cosine 1 (a vector always shares its own cell), and probed
    // top-5 recall vs the exact broadcast kNN must beat probing 2 of 8
    // cells at random by ≥ 2× (recall ≥ 0.5 vs the 0.25 coverage
    // baseline — the property that the index actually co-locates
    // neighbors). Seeded k-means → deterministic; measured 0.64 at sf0.01
    // and 0.56 at sf0.1: these synthetic embeddings are weakly clustered,
    // so cross-cell neighbors are common (4 probes measures 0.84). The
    // recall/probe trade-off is the IVF contract, not an accuracy bug.
    Q("q48_ivf_ann",
      """SELECT count(*) * 5 AS n_results,
        |       CAST(1 AS BOOLEAN) AS self_rank1_ok,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin) { (s, d) =>
      val ivf = ivfAnn(s, d, k = 8, probes = 2, topK = 5, qBound = 5)
      val exact = knn(Tables.embeddings(s, d).filter(col("vec_id") < 5),
        Tables.embeddings(s, d), 5).select("query_id", "neighbor_id")
      ivf.agg(
          count(lit(1)).as("n_results"),
          sum(when(col("rank") === 1 &&
            (col("query_id") =!= col("neighbor_id") || col("sim") < 1.0), 1)
            .otherwise(0)).as("bad_rank1"))
        .crossJoin(ivf.select("query_id", "neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(exact.agg(count(lit(1)).as("n_exact"))))
        .select(
          col("n_results"),
          (col("bad_rank1") === 0).as("self_rank1_ok"),
          (col("n_hit") >= col("n_exact") * 0.5).as("recall_ok"))
    },

    // Higher-order array functions as a first-class family (SURVEY.md §2.7
    // extension surface): transform / filter / exists / aggregate / zip_with
    // / slice over the embedding vectors, each mirrored by a DuckDB list_*
    // lambda. These are the building blocks the similarity kernels compose;
    // here they are oracle-checked directly.
    Q("q56_array_functions",
      """SELECT vec_id,
        |       round(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * 2)), 4) AS sum_doubled,
        |       len(list_filter(embedding, x -> x > 0)) AS n_positive,
        |       CAST(len(list_filter(embedding, x -> abs(x) > 2)) > 0
        |            AS BOOLEAN) AS any_large,
        |       round(list_sum(list_transform(list_zip(embedding, embedding),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 4)
        |         AS self_dot,
        |       round(list_sum(list_transform(embedding[1:8],
        |             x -> CAST(x AS DOUBLE))), 4) AS head8_sum
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).filter(col("vec_id") < 50)
        .select(col("vec_id"),
          round(aggregate(transform(col("embedding"),
            x => x.cast("double") * 2), lit(0.0), (acc, x) => acc + x), 4)
            .as("sum_doubled"),
          size(filter(col("embedding"), x => x > 0)).as("n_positive"),
          exists(col("embedding"), x => abs(x) > 2).as("any_large"),
          round(aggregate(zip_with(col("embedding"), col("embedding"),
            (a, b) => a.cast("double") * b.cast("double")),
            lit(0.0), (acc, x) => acc + x), 4).as("self_dot"),
          round(aggregate(transform(slice(col("embedding"), 1, 8),
            x => x.cast("double")), lit(0.0), (acc, x) => acc + x), 4)
            .as("head8_sum"))
        .orderBy("vec_id")
    },

    // Int8 scalar quantization of the embedding column — the storage/IO
    // lever for a 100 TB vector corpus (4× smaller than float32, dot
    // products on bytes): per-vector min/max affine mapping to 0..255,
    // then per-vector reconstruction quality — max absolute error (bounded
    // by range/510 per the rounding) and cosine between the original and
    // the dequantized vector (through the codegen'd kernel). All
    // arithmetic is deterministic, so the oracle replays it exactly.
    Q("q57_quantize_int8",
      """WITH q AS (
        |  SELECT vec_id,
        |         list_min(embedding) AS lo, list_max(embedding) AS hi,
        |         embedding
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, embedding,
        |         list_transform(embedding, x ->
        |           lo + round((CAST(x AS DOUBLE) - lo) / (hi - lo) * 255, 0)
        |                * (hi - lo) / 255) AS deq
        |  FROM q WHERE hi > lo),
        |e AS (
        |  SELECT vec_id,
        |         list_max(list_transform(list_zip(embedding, deq),
        |             p -> abs(CAST(p[1] AS DOUBLE) - p[2]))) AS max_err,
        |         list_sum(list_transform(list_zip(embedding, deq),
        |             p -> CAST(p[1] AS DOUBLE) * p[2]))
        |         / (sqrt(list_sum(list_transform(embedding,
        |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(deq, x -> x * x)))) AS cos_sim
        |  FROM d)
        |SELECT count(*) AS n_vectors,
        |       round(avg(max_err), 6) AS avg_max_err,
        |       round(max(max_err), 6) AS worst_err,
        |       round(min(cos_sim), 6) AS min_cosine
        |FROM e""".stripMargin) { (s, d) =>
      val lo = array_min(col("embedding")).cast("double")
      val hi = array_max(col("embedding")).cast("double")
      val deq = transform(col("embedding"), x =>
        col("lo") + round((x.cast("double") - col("lo")) /
          (col("hi") - col("lo")) * 255, 0) * (col("hi") - col("lo")) / 255)
      Tables.embeddings(s, d)
        .withColumn("lo", lo).withColumn("hi", hi)
        .filter(col("hi") > col("lo"))
        .withColumn("deq", deq)
        .withColumn("max_err",
          array_max(zip_with(col("embedding"), col("deq"),
            (a, b) => abs(a.cast("double") - b))))
        .withColumn("cos_sim", ArrayMath.cosine(col("embedding"), col("deq")))
        .agg(
          count(lit(1)).as("n_vectors"),
          round(avg(col("max_err")), 6).as("avg_max_err"),
          round(max(col("max_err")), 6).as("worst_err"),
          round(min(col("cos_sim")), 6).as("min_cosine"))
    },

    // MinHash-LSH near-dup candidates on documents: 3-gram shingles →
    // 16 minhashes (xxhash64 with per-function salt) → 8 bands of 2 →
    // banded join (see minHashCandidates for the band-size rationale).
    //
    // Oracle-checked properties: the exact near-dup pair count at j ≥ 0.5
    // is DuckDB-recomputable (the q27 pipeline), and the in-engine boolean
    // asserts the banding found every exact pair AT j ≥ 0.9 — the band
    // where 2-wide×8-band recall is 1−(1−j²)^8 ≈ 1−3e-6, a structural
    // guarantee of the banding itself. Mid-band pairs (j ∈ [0.5, 0.9),
    // none on this corpus) carry ~10% per-pair miss probability by design
    // and are deliberately NOT part of the zero-miss contract. The whole
    // chain is seeded/deterministic.
    Q("q36_minhash_lsh",
      s"""WITH ${TextOps.jaccardCtes}
        |SELECT count(*) AS n_exact, CAST(1 AS BOOLEAN) AS covered_ok
        |FROM p
        |JOIN cnt ca ON p.doc_a = ca.doc_id
        |JOIN cnt cb ON p.doc_b = cb.doc_id
        |WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5""".stripMargin) { (s, d) =>
      val sh = TextOps.shingles(Tables.documents(s, d), "text", 3)
        // ckpt(b): AdaptivePlan's pair-plan choice reads this explode's honest size
        .eagerCkpt
      val exactAll = TextOps.exactJaccardPairsFrom(sh, minJac = 0.5)
      val exact09 = exactAll.filter(col("jac_raw") >= 0.9)
        .select("doc_a", "doc_b")
      val cand = minHashCandidatesFrom(sh).select("doc_a", "doc_b")
      exactAll.agg(count(lit(1)).as("n_exact"))
        .crossJoin(exact09.join(cand, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_missed")))
        .select(col("n_exact"), (col("n_missed") === 0).as("covered_ok"))
    },

    // Embedding-cosine near-dup DEDUP (SemDeDup-style semantic dedup) — the
    // fifth dedup family: LSH-bucketed candidate pairs at cosine ≥ 0.5 over
    // the FULL corpus (the scale path — no slice bound here), then the
    // keep-first rule (drop vec_b of every verified pair; vec_id encodes
    // arrival order, as in q88). Oracle-checked the q35 way: the exact
    // keep-first dropped count INSIDE the vec_id < 200 slice is DuckDB-
    // recomputable from the same normalized fold, and the in-engine boolean
    // asserts the full-corpus LSH dedup caught ≥ 80% of those exact slice
    // drops (seeded hyperplanes → deterministic). Precision needs no check:
    // every LSH pair is exact-cosine-verified before the drop decision.
    Q("q95_semantic_dedup",
      """WITH n AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |           sqrt(list_sum(list_transform(embedding,
        |                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
        |  FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0),
        |sims AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_sum(list_transform(range(1, len(a.nv) + 1),
        |             i -> a.nv[i] * b.nv[i])) AS sim_raw
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 200 AND b.vec_id < 200)
        |SELECT count(DISTINCT vec_b) AS n_slice_dropped,
        |       CAST(1 AS BOOLEAN) AS covered_ok
        |FROM sims WHERE sim_raw >= 0.5""".stripMargin) { (s, d) =>
      // full-corpus LSH dedup: every candidate pair is exact-verified at
      // sim >= 0.5 inside annLsh, so dropping vec_b needs no re-check
      val lshDropped = annLsh(s, d, threshold = 0.5)
        .select(col("vec_b")).distinct()
      // exact keep-first drops inside the bounded slice (both ends < 200)
      val exactDropped = exactCosinePairs(s, d, qBound = 200, threshold = 0.5)
        .filter(col("vec_b") < 200)
        .select(col("vec_b")).distinct()
      exactDropped.agg(count(lit(1)).as("n_slice_dropped"))
        .crossJoin(exactDropped.join(lshDropped, Seq("vec_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(col("n_slice_dropped"),
          (col("n_hit") >= col("n_slice_dropped") * 0.8).as("covered_ok"))
    },

    // Per-label embedding centroids — the class-prototype shape (nearest-
    // centroid classifiers, per-class drift monitors) and the one query
    // over embeddings.label. Distributed form: posexplode to (label, pos,
    // x) then a partial+final avg per (label, pos) — the map-side combine
    // collapses each partition to |labels|×dim rows before the shuffle, so
    // raw vectors never cross the wire (the 100 TB shape; a zip_with fold
    // over collect_list would ship every vector to one reducer per label).
    // Elements cast to double BEFORE averaging to match DuckDB's fold;
    // centroid norm rounded once at the edge.
    Q("q90_label_centroids",
      """WITH e AS (
        |  SELECT label,
        |         unnest(range(1, len(embedding) + 1)) AS pos,
        |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings),
        |c AS (SELECT label, pos, avg(x) AS m FROM e GROUP BY 1, 2),
        |s AS (SELECT label, round(sqrt(sum(m * m)), 4) AS centroid_norm
        |      FROM c GROUP BY 1),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT label, n_vecs, centroid_norm
        |FROM n JOIN s USING (label) ORDER BY label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroid = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("label"))
        .agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"))
      emb.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
        .join(centroid, Seq("label"))
        .orderBy(col("label"))
    },

    // Nearest-centroid classification — the Rocchio/prototype classifier
    // over q90's per-label centroids: assign every vector to its closest
    // class prototype, report per-class accuracy against the true label.
    // Scale shape: centroids are a |labels|×dim table built by one
    // partial+final avg (raw vectors never shuffle, q90's argument),
    // broadcast to a map-side cross join; the per-pair squared distance is
    // the SAME ascending-index fold in both engines
    // (aggregate(zip_with(...)) ≡ list_sum(list_transform(...))), so
    // distances are bit-comparable and the (distance, label) argmin picks
    // identically — a full hash oracle for a classifier, no booleans
    // needed. Class margins dominate the only cross-engine wiggle (the
    // distributed avg's low bits), verified at all three SFs.
    Q("q126_nearest_centroid",
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |x AS (SELECT label, unnest(range(1, len(v) + 1)) AS pos,
        |             unnest(v) AS x FROM e),
        |c AS (SELECT label AS clabel, pos, avg(x) AS m FROM x GROUP BY 1, 2),
        |cent AS (SELECT clabel, list(m ORDER BY pos) AS cv FROM c GROUP BY 1),
        |d AS (
        |  SELECT e.vec_id, e.label, cent.clabel,
        |         list_sum(list_transform(range(1, len(e.v) + 1),
        |                  i -> (e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])))
        |           AS dist2
        |  FROM e CROSS JOIN cent),
        |a AS (
        |  SELECT vec_id, label, clabel,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY dist2, clabel) AS rn
        |  FROM d)
        |SELECT label, count(*) AS n_vectors,
        |       CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_correct
        |FROM a WHERE rn = 1 GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val cent = e
        .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("clabel"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("clabel"))
        // index-ordered centroid array: sort (pos, m) structs, strip pos
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
      // fused codegen kernel (functions/ArrayMath.SquaredL2): same
      // ascending-index (a-b)² left-fold as the HOF form and the DuckDB
      // oracle, one primitive loop instead of an interpreted lambda per
      // element per (vector × centroid) pair
      val dist2 = ArrayMath.squaredL2(col("v"), col("cv"))
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"), dist2.as("dist2"))
        // aggregating argmin (q70's fold): one candidate per vector per
        // partition crosses the exchange, no sort window
        .groupBy(col("vec_id"), col("label"))
        .agg(min(struct(col("dist2"), col("clabel"))).as("best"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          sum((col("best.clabel") === col("label")).cast("int")).cast("long")
            .as("n_correct"))
        .orderBy(col("label"))
    },

    // Matryoshka-style dimension truncation: keep the 16-dim prefix of each
    // 64-dim embedding, renormalize, and prove the cheap representation is
    // usable in the standard two-stage retrieval shape — coarse top-50
    // shortlist in the 4×-cheaper prefix space, full-dim rerank to top-10.
    // The truncation is map-side slice+transform; both search stages reuse
    // the broadcast kNN (corpus never shuffles). Oracle-checked the
    // q35/q95 way: deterministic arithmetic plus in-engine booleans —
    // renormalized prefixes land within fp tolerance of unit norm, and the
    // reranked top-10's mean TRUE cosine trails the exact top-10's by
    // < 0.1 (measured gap 0.03–0.06 across sf0.001–0.1; identity overlap
    // is the wrong metric here — this corpus's neighbour lists are full of
    // near-ties, so ids churn while retrieval quality barely moves).
    Q("q101_matryoshka",
      """SELECT count(*) AS n_vecs, CAST(1 AS BOOLEAN) AS norm_ok,
        |       CAST(1 AS BOOLEAN) AS rerank_ok
        |FROM embeddings
        |WHERE list_sum(list_transform(embedding[1:16],
        |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0""".stripMargin) { (s, d) =>
      val keep = 16
      val k = 10
      val m = 50
      val nQ = 50
      val emb = Tables.embeddings(s, d)
      val prefix = emb.select(col("vec_id"),
          slice(col("embedding"), 1, keep).as("pv"))
        .withColumn("nrm", ArrayMath.norm(col("pv")))
        .filter(col("nrm") > 0)
        .select(col("vec_id"),
          transform(col("pv"), x => (x.cast("double") / col("nrm")).cast("float"))
            .as("embedding"))
      // stage 1: shortlist in prefix space; stage 2: exact rerank of the
      // m candidates (only the shortlist — nQ*m rows — carries full vectors)
      val shortlist = knn(prefix.filter(col("vec_id") < nQ), prefix, m)
        .select(col("query_id"), col("neighbor_id"))
      val full = emb.select(col("vec_id"), col("embedding"))
      val rerank = shortlist
        .join(full.toDF("neighbor_id", "cv"), "neighbor_id")
        .join(broadcast(full.toDF("query_id", "qv").filter(col("query_id") < nQ)),
          "query_id")
        .withColumn("sim_raw", ArrayMath.cosine(col("cv"), col("qv")))
        .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(desc("sim_raw"), asc("neighbor_id"))))
        .filter(col("rank") <= k)
      val exact = knn(emb.filter(col("vec_id") < nQ), emb, k)
      val normErr = prefix
        .agg(max(abs(ArrayMath.norm(col("embedding")) - 1.0)).as("max_err"))
      prefix.agg(count(lit(1)).as("n_vecs"))
        .crossJoin(normErr)
        .crossJoin(rerank.agg(avg(col("sim_raw")).as("mean_sel")))
        .crossJoin(exact.agg(avg(col("sim")).as("mean_true")))
        .select(col("n_vecs"),
          (col("max_err") <= 1e-4).as("norm_ok"),
          (col("mean_true") - col("mean_sel") <= 0.1).as("rerank_ok"))
    },

    // Product quantization — the IVF companion in the standard 100 TB ANN
    // stack (IVF-PQ): split each 64-dim vector into m=4 16-dim subvectors,
    // learn a k=16-centroid codebook per subspace (seeded k-means), encode
    // every vector as m one-byte codes (64× compression: 256B float32 →
    // 4B), and search with the asymmetric-distance computation (ADC) —
    // per query, ONE m×k distance table against the codebooks, then every
    // corpus distance is m table lookups summed, never a float vector
    // read. Scale shape: codebooks are driver-side index metadata (m·k·
    // subdim doubles) rebroadcast as a tiny table like q48's cells; the
    // corpus crosses the wire ONCE at encode time as subvector slices and
    // thereafter only its m-byte codes move; the ADC join touches codes,
    // not vectors. Oracle-checked the q48/q101 way: engine-independent
    // counts DuckDB recomputes (n_vectors, n_codes = n·m, bytes ratio)
    // plus in-engine quality booleans. The test corpus is RANDOM synthetic
    // embeddings — the deliberate stress case for PQ, whose compression
    // assumes cluster structure — so the measured bands are modest and the
    // thresholds sit well inside them: mean relative reconstruction error
    // 0.72–0.77 across sf0.001–0.1 (threshold < 0.85; worst single vector
    // 0.93, threshold ≤ 1.1), NON-SELF ADC top-10 recall vs the exact
    // squared-L2 top-10 measured 0.08–0.16 leave-queries-out (threshold
    // ≥ 0.04) against a 0.005–0.02 chance floor — a 4–16× lift. (With
    // queries in the corpus the 5 guaranteed self-hits alone would meet a
    // 0.10 floor — a vacuous gate.) On clustered production embeddings
    // all three move up sharply; the production recall fix is IVF-PQ
    // re-rank, q101's two-stage shape.
    Q("q143_product_quantization",
      """SELECT count(*) AS n_vectors,
        |       count(*) * 4 AS n_codes,
        |       CAST(64 AS BIGINT) AS compression_x,
        |       CAST(1 AS BOOLEAN) AS codes_ok,
        |       CAST(1 AS BOOLEAN) AS recon_ok,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      pqMetrics(s, d)
        .select(col("n_vectors"), col("n_codes"),
          // 64-dim float32 (256 B) → m one-byte codes (4 B)
          lit(64L).as("compression_x"),
          (col("min_code") >= 0 && col("max_code") < 16 &&
            col("n_codes") === col("n_vectors") * 4).as("codes_ok"),
          (col("mean_rel") < 0.85 && col("worst_rel") <= 1.1).as("recon_ok"),
          (col("n_hit") >= col("n_exact") * 0.04).as("recall_ok"))
    },

    // IVF-PQ composed two-stage search — q48's coarse quantizer × q143's
    // product codes, the FAISS IndexIVFPQ shape (by_residual=false): probe
    // the 2 nearest of 8 cells, then ADC-score ONLY the probed cells'
    // inverted lists via the broadcast distance table. The two stages
    // multiply at 100 TB: the scan touches probes/cells of the corpus and
    // reads 64×-compressed codes for it. Property oracle (q49 pattern):
    // n_vectors is exact; completeness (full top-10 per query), pruning
    // (candidate rows strictly under half of brute force; expectation is
    // probes/cells = 25%) and recall-vs-exact are in-engine booleans.
    // The corpus is leave-queries-out (the q157 convention) so NO hit is
    // a free self-retrieval — with queries in the corpus a 0.10 floor
    // would be satisfied by the 5 guaranteed self-hits alone and a broken
    // ADC join would ship silently. Random embeddings are the stress case
    // (documented at q143): measured non-self IVF∘ADC recall@10 is
    // 0.06–0.16 across sf0.001–0.1 (candidate ratios 0.25–0.38) vs the
    // 0.005–0.02 chance floor (10/|corpus|) — the 0.04 gate sits under
    // every measured point at 1.5–4× margin and 2–8× above chance.
    Q("q158_ivf_pq",
      """SELECT count(*) AS n_vectors, 5 AS n_queries,
        |       CAST(1 AS BOOLEAN) AS complete_ok,
        |       CAST(1 AS BOOLEAN) AS pruning_ok,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      ivfPqMetrics(s, d)
        .select(col("n_vectors"), lit(5).as("n_queries"),
          (col("n_results") === 50 && col("n_answered") === 5)
            .as("complete_ok"),
          (col("n_candidates") * 2 < col("n_vectors") * 5).as("pruning_ok"),
          (col("n_hit") >= col("n_exact") * 0.04).as("recall_ok"))
    },

    // Inter-class centroid separation — the embedding-quality report a
    // training run publishes next to its clustering (q41): pairwise
    // cosine between label centroids. Two scale tricks: cosine is
    // SCALE-INVARIANT, so the per-label SUM vector stands in for the
    // centroid (no count division, exact reduction shape), and the
    // vectors decompose to (label, dim, partial-sum) rows that
    // partial-aggregate map-side — the 64-dim × 10-label centroid frame
    // is all that shuffles, and the pairwise dot is a dim-keyed join on
    // that tiny frame. FULL-hash oracle: DuckDB replays the same sums via
    // unnest WITH ORDINALITY.
    Q("q201_label_separation",
      """WITH e AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cent AS (SELECT label, dim, sum(v) AS s FROM e GROUP BY 1, 2),
        |n2 AS (SELECT label, sum(s * s) AS n2 FROM cent GROUP BY 1),
        |d AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |         sum(a.s * b.s) AS dot
        |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |       round(dot / sqrt(na.n2 * nb.n2), 6) AS centroid_cos
        |FROM d JOIN n2 na ON label_a = na.label
        |JOIN n2 nb ON label_b = nb.label
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val cent = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("v").cast("double")).as("cs"))
      val n2 = cent.groupBy(col("label"))
        .agg(sum(col("cs") * col("cs")).as("n2"))
      val dots = cent.toDF("la", "dim", "sa")
        .join(broadcast(cent.toDF("lb", "dim", "sb")), Seq("dim"))
        .filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum(col("sa") * col("sb")).as("dot"))
      dots
        .join(broadcast(n2.toDF("la", "n2a")), "la")
        .join(broadcast(n2.toDF("lb", "n2b")), "lb")
        .select(col("la").as("label_a"), col("lb").as("label_b"),
          round(col("dot") / sqrt(col("n2a") * col("n2b")), 6)
            .as("centroid_cos"))
        .orderBy(col("label_a"), col("label_b"))
    },

    // Per-dimension embedding distribution audit — the feature-QA pass
    // before any ANN index is trusted: for every dimension, the median
    // and IQR across the corpus (a collapsed dimension — zero IQR — or a
    // shifted median flags a broken encoder batch). Decomposes to
    // (dim, value) rows map-side; each dimension's exact quantiles run
    // inside a |dims|-way parallel aggregate (dimension count is the
    // bounded domain, corpus size only deepens each group's percentile
    // buffer — at true scale the grouped GK sketch of q118 is the
    // drop-in). Floats widen to double exactly; quantiles round at 6.
    Q("q205_embedding_dim_profile",
      """WITH e AS (
        |  SELECT generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |       round(quantile_cont(v, 0.5), 6) AS p50,
        |       round(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 6)
        |         AS iqr,
        |       round(min(v), 6) AS v_min, round(max(v), 6) AS v_max
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim0", "v0")))
        .select((col("dim0") + 1).as("dim"), col("v0").cast("double").as("v"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(expr("percentile(v, 0.5)"), 6).as("p50"),
          round(expr("percentile(v, 0.75) - percentile(v, 0.25)"), 6)
            .as("iqr"),
          round(min(col("v")), 6).as("v_min"),
          round(max(col("v")), 6).as("v_max"))
        .orderBy(col("dim"))
    },

    // MMR (maximal marginal relevance, Carbonell & Goldstein 1998) diverse
    // re-ranking — what a retrieval stack runs AFTER q33's top-k: pick
    // k=5 results that are relevant to the query but not redundant with
    // each other, greedily maximizing λ·rel(c) − (1−λ)·max_{s∈sel} sim(c,s)
    // with λ=0.7. Scale split (the shape every production re-ranker uses):
    // the corpus-sized work — scoring all vectors against the query and
    // taking the top-20 shortlist — is distributed (codegen cosine kernel,
    // TakeOrdered top-k, corpus never shuffles); the greedy selection then
    // runs driver-side on the BOUNDED 20×20 shortlist similarity matrix
    // (computed in-engine, 400 rows — re-ranking a shortlist in memory is
    // the design, not a compromise). Oracle = q40/q41 property pattern:
    // the corpus count is a real aggregate DuckDB recomputes; the greedy
    // CONTRACT — first pick is the relevance argmax, and each step's pick
    // maximized the MMR objective over the remaining candidates — is
    // asserted in-engine per step and emitted as booleans.
    Q("q236_mmr_rerank",
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |       CAST(5 AS INT) AS k, CAST(20 AS INT) AS n_candidates,
        |       CAST(1 AS BOOLEAN) AS first_is_top_rel,
        |       CAST(1 AS BOOLEAN) AS greedy_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cands = emb.filter(col("vec_id") =!= 0)
        .join(broadcast(qv), lit(true))
        .select(col("vec_id"), col("embedding"),
          ArrayMath.cosine(col("embedding"), col("qv")).as("rel"))
        .orderBy(desc("rel"), asc("vec_id")).limit(20)
        // ckpt(a): q236 both shortlist sides; lazy 1.4× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      // bounded 20×20 shortlist similarity matrix, computed in-engine
      val a = cands.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      val pair = a.join(broadcast(cands
          .select(col("vec_id").as("ib"), col("embedding").as("eb"))),
          col("ia") < col("ib"))
        .select(col("ia"), col("ib"), ArrayMath.cosine(col("ea"), col("eb")).as("s"))
        .collect().flatMap(r => Seq(
          (r.getLong(0), r.getLong(1)) -> r.getDouble(2),
          (r.getLong(1), r.getLong(0)) -> r.getDouble(2))).toMap
      val rel = cands.select(col("vec_id"), col("rel")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
        .sortBy { case (id, r0) => (-r0, id) }
      // the oracle hardcodes n_candidates = 20; a smaller corpus would
      // silently shrink the shortlist and flip the booleans — fail loud
      require(rel.size == 20,
        s"q236 needs a >=21-vector corpus for its 20-candidate shortlist; " +
          s"got ${rel.size} candidates")
      // greedy MMR over the shortlist (driver-side by design, see above),
      // then an INDEPENDENT replay of the per-step argmax contract
      val selected = mmrSelect(rel, pair, k = 5, lambda = 0.7)
      emb.agg(count(lit(1)).cast("long").as("n_vectors"))
        .select(col("n_vectors"), lit(5).as("k"), lit(20).as("n_candidates"),
          lit(selected.head == rel.head._1).as("first_is_top_rel"),
          lit(mmrGreedyOk(rel, pair, selected, k = 5, lambda = 0.7))
            .as("greedy_ok"))
    },

    // Energy distance between label groups — the multivariate two-sample
    // test (Székely & Rizzo 2004) that asks "do label-0 and label-1
    // embeddings come from the same distribution?" without assuming any
    // parametric form:  E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖  ≥ 0, zero iff
    // the distributions match. Run over BOUNDED per-label slices (the
    // q34 contract: 64 vectors per side, so the three pairwise-distance
    // passes are a fixed 64²-pair broadcast workload at any corpus
    // size); Euclidean norms via the fused codegen SquaredL2 kernel.
    // Every distance is the same double both engines (ascending-index
    // fold + sqrt), the three means divide exact pair counts, and the
    // statistic rounds at 6. The in-engine E ≥ 0 boolean is the
    // degeneracy guard.
    Q("q269_energy_distance",
      """WITH x AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE label = 0 AND vec_id < 640),
        |y AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE label = 1 AND vec_id < 640),
        |xs AS (SELECT * FROM x ORDER BY vec_id LIMIT 64),
        |ys AS (SELECT * FROM y ORDER BY vec_id LIMIT 64),
        |dxy AS (
        |  SELECT avg(sqrt(list_sum(list_transform(
        |           list_zip(a.embedding, b.embedding),
        |           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |                * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))))
        |           AS m, count(*) AS n
        |  FROM xs a, ys b),
        |dxx AS (
        |  SELECT avg(sqrt(list_sum(list_transform(
        |           list_zip(a.embedding, b.embedding),
        |           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |                * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))))
        |           AS m, count(*) AS n
        |  FROM xs a JOIN xs b ON a.vec_id < b.vec_id),
        |dyy AS (
        |  SELECT avg(sqrt(list_sum(list_transform(
        |           list_zip(a.embedding, b.embedding),
        |           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |                * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))))
        |           AS m, count(*) AS n
        |  FROM ys a JOIN ys b ON a.vec_id < b.vec_id)
        |SELECT CAST(dxy.n AS BIGINT) AS n_cross_pairs,
        |       round(dxy.m, 6) AS mean_cross,
        |       round(dxx.m, 6) AS mean_within_x,
        |       round(dyy.m, 6) AS mean_within_y,
        |       round(2 * dxy.m - dxx.m - dyy.m, 6) AS energy_distance,
        |       2 * dxy.m - dxx.m - dyy.m >= -1e-9 AS nonneg_ok
        |FROM dxy, dxx, dyy""".stripMargin) { (s, d) =>
      import graft.functions.ArrayMath
      def slice(label: Int) = Tables.embeddings(s, d)
        .filter(col("label") === label && col("vec_id") < 640)
        .orderBy(col("vec_id")).limit(64)
        .select(col("vec_id"), col("embedding"))
      val xs = slice(0)
      val ys = slice(1)
      def dist(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame, pred: Column) = {
        val l = a.toDF("ia", "ea")
        val r = b.toDF("ib", "eb")
        l.join(broadcast(r), pred)
          .agg(avg(sqrt(ArrayMath.squaredL2(col("ea"), col("eb"))))
            .as("m"), count(lit(1)).as("n"))
      }
      val dxy = dist(xs, ys, lit(true))
      val dxx = dist(xs, xs, col("ia") < col("ib"))
      val dyy = dist(ys, ys, col("ia") < col("ib"))
      dxy.select(col("m").as("mxy"), col("n").as("nxy"))
        .join(broadcast(dxx.select(col("m").as("mxx"))), lit(true))
        .join(broadcast(dyy.select(col("m").as("myy"))), lit(true))
        .select(col("nxy").cast("long").as("n_cross_pairs"),
          round(col("mxy"), 6).as("mean_cross"),
          round(col("mxx"), 6).as("mean_within_x"),
          round(col("myy"), 6).as("mean_within_y"),
          round(lit(2) * col("mxy") - col("mxx") - col("myy"), 6)
            .as("energy_distance"),
          (lit(2) * col("mxy") - col("mxx") - col("myy") >= -1e-9)
            .as("nonneg_ok"))
    },

    // Contrastive-pair mining — the step that turns a labeled embedding
    // corpus into triplet-loss training data: for each query vector, its
    // nearest SAME-label neighbor (the positive) and its nearest
    // DIFFERENT-label neighbor (the hard negative), with the margin
    // between them (negative margin = the pair a triplet loss would
    // actually move). Scale shape is q33's with a composite key: queries
    // broadcast, the corpus-side scored frame projects to ids+sim before
    // ranking, and the top-1-per-(query, polarity) row_number window is
    // heap-pruned (q244) — each scan partition keeps ONE row per (query,
    // polarity) before the exchange, so raw vectors never shuffle and the
    // exchange moves O(partitions·queries) rows. Leave-queries-out corpus
    // (the q157/q158 convention): no self-retrieval freebies. FULL-hash
    // oracle: DuckDB replays the same double-precision cosine fold via
    // list lambdas and the same (sim desc, id) argmax per polarity.
    Q("q281_hard_negatives",
      """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, label AS cl, embedding AS cv
        |      FROM embeddings WHERE vec_id >= 5),
        |sims AS (
        |  SELECT q.query_id,
        |         c.neighbor_id,
        |         CASE WHEN c.cl = q.ql THEN 1 ELSE 0 END AS is_pos,
        |         list_sum(list_transform(range(1, len(cv) + 1),
        |             i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |                i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |                i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))))
        |           AS sim_raw
        |  FROM c CROSS JOIN q),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, is_pos
        |            ORDER BY sim_raw DESC, neighbor_id) AS rn
        |  FROM sims)
        |SELECT query_id,
        |       CAST(max(CASE WHEN is_pos = 1 THEN neighbor_id END)
        |            AS BIGINT) AS pos_id,
        |       round(max(CASE WHEN is_pos = 1 THEN sim_raw END), 6)
        |         AS pos_sim,
        |       CAST(max(CASE WHEN is_pos = 0 THEN neighbor_id END)
        |            AS BIGINT) AS neg_id,
        |       round(max(CASE WHEN is_pos = 0 THEN sim_raw END), 6)
        |         AS neg_sim,
        |       round(max(CASE WHEN is_pos = 1 THEN sim_raw END)
        |             - max(CASE WHEN is_pos = 0 THEN sim_raw END), 6)
        |         AS margin
        |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q5 = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label").as("ql"),
          col("embedding").as("qv"))
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("neighbor_id"), col("label").as("cl"),
          col("embedding").as("cv"))
      val scored = corpus.crossJoin(broadcast(q5))
        .withColumn("sim_raw", ArrayMath.cosine(col("cv"), col("qv")))
        .withColumn("is_pos", when(col("cl") === col("ql"), 1).otherwise(0))
        .select(col("query_id"), col("is_pos"), col("neighbor_id"),
          col("sim_raw"))
      val w = Window.partitionBy(col("query_id"), col("is_pos"))
        .orderBy(col("sim_raw").desc, col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
        .groupBy(col("query_id"))
        .agg(
          max(when(col("is_pos") === 1, col("neighbor_id"))).as("pos_id"),
          max(when(col("is_pos") === 1, col("sim_raw"))).as("pos_raw"),
          max(when(col("is_pos") === 0, col("neighbor_id"))).as("neg_id"),
          max(when(col("is_pos") === 0, col("sim_raw"))).as("neg_raw"))
        .select(col("query_id"), col("pos_id"),
          round(col("pos_raw"), 6).as("pos_sim"), col("neg_id"),
          round(col("neg_raw"), 6).as("neg_sim"),
          round(col("pos_raw") - col("neg_raw"), 6).as("margin"))
        .orderBy(col("query_id"))
    },

    // MinHash estimator calibration — the QA pass that justifies trusting
    // q36's banding: the signature-match estimate ĵ = |matching
    // minhashes|/16 against the EXACT shingle Jaccard, as two separate
    // claims on two separate populations (a round-14 skew-board find):
    //  - est_unbiased runs on the GROUND-TRUTH j ≥ 0.5 pairs,
    //    unconditioned on banding, where MinHash theory (Broder '97)
    //    gives E[ĵ] = j for ANY pair on ANY corpus shape (per-pair se =
    //    sqrt(j(1−j)/16) ≤ 0.125, so the 0.1 band on the mean holds with
    //    wide margin at every measured pair count). The earlier form
    //    tested bias over the CANDIDATE population — but candidacy
    //    conditions on a signature band matching, which selects pairs
    //    whose ĵ fluctuated HIGH: on the Zipfian skew01 corpus (template
    //    collisions dominate the candidate set) the selection bias
    //    crossed +0.1 and the in-engine boolean went false against the
    //    oracle's hardcoded TRUE. Selection bias is a property of the
    //    banding, not an estimator defect — so the unbiasedness claim
    //    belongs on the unselected population.
    //  - est_calibrated is the mean-absolute-error band (≤ 0.2) on the
    //    SAME ground-truth population: per-pair |ĵ − j| has expectation
    //    ≤ se ≤ 0.125, so the band holds corpus-independently. It was
    //    first moved here from the candidate population for the same
    //    reason as the bias: the SimilaritySpec template-collision
    //    fixture (30 docs sharing a boilerplate block, pairwise
    //    j ≈ 0.27, ~46% of those pairs admitted by 2-wide×8-band LSH)
    //    drives candidate-population mae past 0.2 — every band on the
    //    SELECTED population is a corpus property, not an engine
    //    property. The banding's own quality claims (recall of j ≥ 0.9
    //    pairs) live in q36's oracle, where they belong.
    // Scale shape: signatures are the q36 per-doc 16-long aggregate
    // (shingles never shuffle past it), the estimate is a zip_with fold
    // over 16-element arrays on the bounded ground-truth pair frame
    // (the adaptive q27 enumeration — no unfiltered global pair
    // enumeration anywhere). Oracle: n_docs and the exact j ≥ 0.5 pair
    // count are DuckDB-recomputed (the q36 anchors); the calibration
    // bands are in-engine booleans (signatures are engine-seeded).
    Q("q285_minhash_estimator",
      s"""WITH ${TextOps.jaccardCtes}
        |SELECT (SELECT count(*) FROM documents) AS n_docs,
        |       count(*) AS n_exact05,
        |       CAST(1 AS BOOLEAN) AS est_unbiased,
        |       CAST(1 AS BOOLEAN) AS est_calibrated
        |FROM p
        |JOIN cnt ca ON p.doc_a = ca.doc_id
        |JOIN cnt cb ON p.doc_b = cb.doc_id
        |WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5""".stripMargin) { (s, d) =>
      val sh = TextOps.shingles(Tables.documents(s, d), "text", 3)
        // ckpt(b): AdaptivePlan's pair-plan choice reads this explode's honest size
        .eagerCkpt
      val mins = (0 until 16).map(i =>
        min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
      val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until 16).map(i => col(s"mh_$i")): _*).as("sig"))
      val estOf = expr(
        """aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),
          |0, (acc, v) -> acc + v) / 16.0""".stripMargin)
      // ground-truth pair frame: shared by the n_exact05 anchor and both
      // selection-free calibration aggregates
      val exact = TextOps.exactJaccardPairsFrom(sh, minJac = 0.5)
      val nExact = exact.agg(count(lit(1)).as("n_exact05"))
      val gt = exact
        .join(sig.toDF("doc_a", "sig_a"), "doc_a")
        .join(sig.toDF("doc_b", "sig_b"), "doc_b")
        .withColumn("est", estOf)
        .agg(avg(col("est") - col("jac_raw")).as("bias"),
          avg(abs(col("est") - col("jac_raw"))).as("mae"))
      Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(nExact))
        .crossJoin(broadcast(gt))
        // coalesce: an empty ground-truth population calibrates
        // vacuously — n_exact05 = 0 in the same row keeps the vacuity
        // visible rather than silent
        .select(col("n_docs"), col("n_exact05"),
          coalesce(abs(col("bias")) <= 0.1, lit(true)).as("est_unbiased"),
          coalesce(col("mae") <= 0.2, lit(true)).as("est_calibrated"))
    },

    // INT8-quantized brute-force ANN (round 10): symmetric per-vector
    // quantization (scale = max|x|/127, code = round(x/scale)) and top-10
    // by the EXACT integer code dot — the memory-bandwidth path of
    // similarity search (4× smaller vectors; at 100 TB the scan is
    // bandwidth-bound so the quantized sweep reads a quarter of the
    // bytes), ranked against the float top-10 for per-query overlap. The
    // kernel is the new codegen `QuantizedDot` expression (BIGINT
    // accumulation — no float summation-order hazard anywhere in the
    // approximate ranking, so it is bit-stable across engines and
    // partitionings, which is what makes this a FULL-hash oracle: DuckDB
    // replays the same deterministic quantization and integer fold).
    // Scale shape: the q33 topology — 5-query slice broadcasts, corpus
    // streams map-side through the codegen kernels, both row_number
    // rankings are heap-pruned (q244) before any exchange; the scored
    // frame is |queries|·|corpus| rows of scalars, never embeddings.
    Q("q297_int8_ann",
      """WITH s AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |cds AS (
        |  SELECT vec_id, v,
        |         list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
        |           AS codes
        |  FROM s WHERE scale > 0),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(list_sum(list_transform(range(1, len(q.codes) + 1),
        |             i -> q.codes[i] * c.codes[i])) AS BIGINT) AS int_dot,
        |         list_sum(list_transform(range(1, len(q.v) + 1),
        |             i -> q.v[i] * c.v[i])) AS fdot
        |  FROM cds q, cds c
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
        |ra AS (
        |  SELECT query_id, neighbor_id, int_dot,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY int_dot DESC, neighbor_id) AS INT) AS rank
        |  FROM p),
        |rf AS (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |              ORDER BY fdot DESC, neighbor_id) AS rank
        |  FROM p),
        |ov AS (
        |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_common
        |  FROM ra a JOIN rf f
        |    ON a.query_id = f.query_id AND a.neighbor_id = f.neighbor_id
        |  WHERE a.rank <= 10 AND f.rank <= 10 GROUP BY 1)
        |SELECT r.query_id, r.rank, r.neighbor_id, r.int_dot,
        |       coalesce(ov.n_common, 0) AS n_common
        |FROM ra r LEFT JOIN ov ON r.query_id = ov.query_id
        |WHERE r.rank <= 10 ORDER BY r.query_id, r.rank""".stripMargin) { (s, d) =>
      import graft.functions.ArrayMath
      // fused codegen quantizer (ArrayMath.Int8Quantize): scale + codes in
      // one pass, NULL where the unfused form's `scale > 0` filter would
      // drop the row; emits array<tinyint> containsNull=false so the
      // QuantizedDot loop below stays branch-free
      val withCodes = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("codes", ArrayMath.int8Codes(col("embedding")))
        .filter(col("codes").isNotNull)
      val q = withCodes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("codes").as("qc"))
      val c = withCodes.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          col("codes").as("cc"))
      val scored = c.crossJoin(broadcast(q))
        .select(col("query_id"), col("neighbor_id"),
          ArrayMath.quantDot(col("qc"), col("cc")).as("int_dot"),
          ArrayMath.dot(col("qv"), col("cv")).as("fdot"))
      def top10(m: String) = scored.select("query_id", "neighbor_id", m)
        .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col(m).desc, col("neighbor_id"))))
        .filter(col("rn") <= 10)
      val approx = top10("int_dot")
      val exact = top10("fdot")
      val overlap = approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).cast("long").as("n_common"))
      approx
        .join(broadcast(overlap), Seq("query_id"), "left")
        .select(col("query_id"), col("rn").as("rank"), col("neighbor_id"),
          col("int_dot"), coalesce(col("n_common"), lit(0L)).as("n_common"))
        .orderBy(col("query_id"), col("rank"))
    },

    // LSH candidate-workload forecast — the parameter-sweep a dedup run
    // does BEFORE committing to a (bands, rows-per-band) config at corpus
    // scale: for each config over one shared 16-minhash signature, the
    // exact bucket-occupancy profile and the candidate-pair workload
    // Σ_buckets n(n−1)/2 the verify stage would have to pay, plus that
    // workload as a millionth-share of all N(N−1)/2 pairs (brute force
    // = 1e6). Complements q36 (recall at ONE config) and q232 (exact
    // threshold sweep): this is the COST axis of the recall/cost trade.
    // Hash family is md5 end-to-end — not xxhash64 — deliberately: DuckDB
    // has md5, so bucket structure is bit-identical cross-engine and the
    // oracle is a FULL hash match, not a property check (hex min/concat
    // compare identically as ASCII in both engines); at production scale
    // the family is swappable for any 64-bit hash without changing shape.
    // Scale shape: signatures reduce the shingle explode ONCE with
    // map-side partial min-aggregation; the 30 per-doc band rows (Σ bands
    // over 4 configs) fan out map-side from the reduced signature frame,
    // so the planner's one real exchange — the (config, band, key) bucket
    // reduce — carries the SAME key traffic the chosen LSH job itself
    // would, which is exactly the quantity being forecast. Per-bucket
    // n(n−1) is a product of two SF-scaling quantities → summed in
    // DECIMAL(38,0)/HUGEINT per the overflow rule; n(n−1) is always even
    // so the final halving is exact in both engines.
    Q("q310_lsh_workload",
      s"""WITH ${TextOps.jaccardCtes},
        |hs AS (SELECT unnest(range(16)) AS h),
        |m AS (SELECT doc_id, h,
        |             min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
        |      FROM sh CROSS JOIN hs GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY h) AS sg FROM m GROUP BY 1),
        |cfg AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1))
        |        c(b, r)),
        |bs AS (SELECT unnest(range(16)) AS band),
        |bk AS (SELECT c.b, c.r, s.doc_id, bs.band,
        |              md5(array_to_string(
        |                s.sg[(bs.band * c.r + 1):(bs.band * c.r + c.r)],
        |                '|')) AS key
        |       FROM sig s CROSS JOIN cfg c CROSS JOIN bs
        |       WHERE bs.band < c.b),
        |bu AS (SELECT b, r, band, key, count(*) AS n
        |       FROM bk GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT count(*) AS nd FROM sig)
        |SELECT b AS bands, r AS rows_per_band,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(max(n) AS BIGINT) AS max_bucket,
        |       CAST(sum(CAST(n AS HUGEINT) * (n - 1)) // 2 AS BIGINT)
        |         AS cand_pairs,
        |       CAST(sum(CAST(n AS HUGEINT) * (n - 1)) // 2 * 1000000
        |            // (CAST(nd AS HUGEINT) * (nd - 1) // 2) AS BIGINT)
        |         AS workload_share_micro
        |FROM bu CROSS JOIN tot GROUP BY 1, 2, nd ORDER BY 1""".stripMargin) {
      (s, d) =>
      val sh = TextOps.shingles(Tables.documents(s, d), "text", 3)
      val mins = (0 until 16).map(i =>
        min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary")))
          .as(s"mh_$i"))
      val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      val cfgs = Seq(2 -> 8, 4 -> 4, 8 -> 2, 16 -> 1)
      val bandRows = array(cfgs.flatMap { case (b, r) =>
        (0 until b).map { j =>
          struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
            lit(j).as("band"),
            md5(concat_ws("|", (0 until r).map(x => col(s"mh_${j * r + x}")): _*)
              .cast("binary")).as("key"))
        }
      }: _*)
      val bu = sig.select(explode(bandRows).as("x")).select(col("x.*"))
        .groupBy(col("bands"), col("rows_per_band"), col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
      val nd = sig.agg(count(lit(1)).as("nd"))
      val nDec = col("n").cast("decimal(19,0)")
      val pairsDec = sum(nDec * (nDec - 1)) // 2·pairs; even, halved below
      val ndDec = col("nd").cast("decimal(19,0)")
      // share works on the UNhalved numerator/denominator — the /2s cancel
      // as exact rationals, so the floor matches the oracle's halved form
      // while every intermediate stays a scale-0 DECIMAL(38,0)
      bu.groupBy(col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
          pairsDec.as("pr"))
        .crossJoin(broadcast(nd))
        .select(col("bands"), col("rows_per_band"), col("n_buckets"),
          col("max_bucket").cast("long").as("max_bucket"),
          Ranks.intDiv(col("pr"), lit(2)).as("cand_pairs"),
          Ranks.intDiv(col("pr") * 1000000L, ndDec * (ndDec - 1))
            .as("workload_share_micro"))
        .orderBy(col("bands"))
    }
  )

  /** q158's raw metric row (spec-visible): IVF-probed ADC search — the
    * composed two-stage index (FAISS IndexIVFPQ, by_residual=false): the
    * coarse quantizer prunes the corpus to the probed cells' inverted
    * lists, and only THOSE vectors' PQ codes enter the ADC table lookup.
    * At 100 TB the two stages multiply: IVF reads probes/cells of the
    * corpus, PQ makes what it reads 64× smaller — the scan is
    * (probes/cells)·(1/64) of brute force, and every piece is the already-
    * proven machinery (q48's cells, q143's codes). */
  private[graft] def ivfPqMetrics(s: SparkSession, d: String): DataFrame = {
    val nCells = 8
    val probes = 2
    val nQ = 5
    val topK = 10
    val emb = Tables.embeddings(s, d)
    val cdf = ivfIndex(s, d, nCells)
    // leave-queries-out corpus (the q157 convention): with the queries IN
    // the corpus, each exact and ADC top-10 contains the query itself, so
    // 5 of 50 hits come free and a recall floor at 0.10 would be vacuous —
    // a broken ADC join would still pass on self-retrievals alone
    val assigned = rankCells(cdf,
      emb.filter(col("vec_id") >= nQ)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      "neighbor_id", "cv", 1)
      .select("cell", "neighbor_id")
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probed = rankCells(cdf, queries, "query_id", "qv", probes)
      .select("query_id", "cell")
    val (codes, codebook, m, _, subDim) = pqEncode(s, d)
    val dtable = adcTable(queries, codebook, m, subDim)
    // the IVF stage: only vectors in a probed cell reach the ADC lookup
    val cand = probed.join(assigned, Seq("cell"))
      .select("query_id", "neighbor_id")
    val adc = cand
      .join(codes.select(col("vec_id").as("neighbor_id"), col("sub"),
        col("code")), "neighbor_id")
      .join(broadcast(dtable), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d2")).as("adc_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(asc("adc_dist"), asc("neighbor_id"))))
      .filter(col("rank") <= topK)
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(adc.agg(count(lit(1)).as("n_results"),
        countDistinct(col("query_id")).as("n_answered")))
      .crossJoin(exactRecall(emb, queries, adc, nQ, topK))
  }

  /** q143's raw metric row (spec-visible): reconstruction error stats,
    * code-range stats, and ADC-vs-exact hit counts. */
  private[graft] def pqMetrics(s: SparkSession, d: String): DataFrame = {
    val (codes, codebook, m, k, subDim) = pqEncode(s, d)
    val emb = Tables.embeddings(s, d)
    val nQ = 5
    val topK = 10
    // reconstruction: per (vec, sub) the chosen centroid's squared error,
    // relative to the vector's total energy
    val relErr = codes
      .groupBy(col("vec_id"))
      .agg(sum(col("err2")).as("q_err"), count(lit(1)).as("n_sub"))
      .join(emb.select(col("vec_id"),
        ArrayMath.squaredL2(col("embedding"),
          transform(col("embedding"), _ => lit(0.0f))).as("energy")), "vec_id")
      .select(col("vec_id"), col("n_sub"),
        (col("q_err") / col("energy")).as("rel_err"))
    // ADC: the query's m×k distance table (one row per (sub, code)) is a
    // broadcast frame; corpus distances are a codes⋈table lookup + sum.
    // Recall is measured leave-queries-out (the q157/q158 convention):
    // with queries in the corpus, each exact and ADC top-10 contains the
    // query itself, so 5 of 50 hits come free and a 0.10 floor would be
    // satisfied by self-retrievals alone.
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val dtable = adcTable(queries, codebook, m, subDim)
    val adc = codes.filter(col("vec_id") >= nQ)
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
      .join(broadcast(dtable), Seq("sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(asc("adc_dist"), asc("neighbor_id"))))
      .filter(col("rank") <= topK)
    relErr.agg(count(lit(1)).as("n_vectors"),
        sum(col("n_sub")).cast("long").as("n_codes"),
        max(col("rel_err")).as("worst_rel"),
        avg(col("rel_err")).as("mean_rel"))
      .crossJoin(codes.agg(
        min(col("code")).as("min_code"), max(col("code")).as("max_code"),
        countDistinct(col("code")).as("n_distinct_codes")))
      .crossJoin(exactRecall(emb, queries, adc, nQ, topK))
  }

  /** The query slice's ADC distance table: per (query_id, sub, code), the
    * squared L2 from the query's `sub`-th subvector to that centroid. */
  private def adcTable(queries: DataFrame, codebook: DataFrame, m: Int,
      subDim: Int): DataFrame =
    queries
      .select(col("query_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("qv"), i * subDim + 1, lit(subDim))))
        .as(Seq("sub", "qsub")))
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        ArrayMath.squaredL2(col("qsub"), col("cvec")).as("d2"))

  /** One row (n_hit, n_exact): how many of `found`'s (query_id,
    * neighbor_id) pairs are in the exact squared-L2 top-`topK` of the
    * leave-queries-out corpus (vec_id ≥ nQ), and that baseline's size. */
  private def exactRecall(emb: DataFrame, queries: DataFrame,
      found: DataFrame, nQ: Int, topK: Int): DataFrame = {
    val exact = emb.filter(col("vec_id") >= nQ)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(queries))
      .withColumn("d2", ArrayMath.squaredL2(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(asc("d2"), asc("neighbor_id"))))
      .filter(col("rank") <= topK)
      .select("query_id", "neighbor_id")
    found.select("query_id", "neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
  }

  /** PQ encoder: per-subspace seeded k-means codebooks + per-vector codes.
    * Returns (codes(vec_id, sub, code, err2), codebook(sub, code, cvec),
    * m, k, subDim). Codebooks are driver-side index metadata (m·k·subDim
    * doubles), like q48's cell centroids. */
  private def pqEncode(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Int, Int, Int) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val m = 4
    val k = 16
    val subDim = 16
    val emb = Tables.embeddings(s, d)
    // one pass slices all subspaces; cached once for the m sequential fits
    val subs = emb.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("embedding"), i * subDim + 1, lit(subDim))))
        .as(Seq("sub", "svec")))
      // ckpt(a): the m codebook fits are separate jobs over this explode
      .eagerCkpt
    val spark = s
    import spark.implicits._
    // the m codebook fits are independent seeded computations on disjoint
    // slices of the checkpointed subspace frame — run them concurrently
    // (guide §2.6) so each fit's tiny jobs back-fill the others' idle
    // slots instead of serializing m × (init + 5 iterations) job waves.
    // Results land in `sub` order regardless of completion order.
    val books = graft.Par.run((0 until m).map { sub => () =>
      val vecs = subs.filter(col("sub") === sub)
        .select(array_to_vector(col("svec")).as("features")).cache()
      val model = new KMeans().setK(k).setSeed(42L + sub).setMaxIter(5)
        .setFeaturesCol("features").fit(vecs)
      vecs.unpersist(blocking = false)
      model.clusterCenters.zipWithIndex.map { case (v, i) =>
        (sub, i, v.toArray.toSeq.map(_.toFloat)) }
    })
    val codebook = books.flatten.toDF("sub", "code", "cvec")
      .coalesce(1)
    // encode: argmin squared-L2 over the sub's k centroids, deterministic
    // code tie-break
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(asc("e2"), asc("code"))
    val codes = subs.join(broadcast(codebook), "sub")
      .withColumn("e2", ArrayMath.squaredL2(col("svec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("e2").as("err2"))
    (codes, codebook, m, k, subDim)
  }

  /** Exact cosine pairs (a, b), a < qBound ≤ any b, a < b, sim ≥ threshold:
    * brute force over a bounded query slice broadcast against the full
    * corpus — ground truth for validating the ANN paths without a cartesian
    * product (the corpus side never shuffles). */
  def exactCosinePairs(s: SparkSession, d: String, qBound: Int,
      threshold: Double): DataFrame = {
    val normed = Tables.embeddings(s, d)
      .withColumn("nrm", ArrayMath.norm(col("embedding")))
      .filter(col("nrm") * col("nrm") > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("nv"))
    val a = normed.filter(col("vec_id") < qBound)
      .select(col("vec_id").as("vec_a"), col("nv").as("na"))
    val b = normed.select(col("vec_id").as("vec_b"), col("nv").as("nb"))
    b.crossJoin(broadcast(a)).filter(col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", ArrayMath.dot(col("na"), col("nb")))
      .filter(col("sim_raw") >= threshold)
  }

  /** MinHash-LSH candidate pairs: 3-gram shingles → 16 minhashes → 8 bands
    * of 2 → banded bucket join. Band size 2 (not 4): docs here have
    * ~30-shingle sets, so a single rare shingle winning a few minima spreads
    * mismatches across wide bands and kills recall (observed: a
    * 0.96-Jaccard pair with 12/16 matching minhashes missed ALL 4 4-wide
    * bands). With 2-wide bands the same pair collides in 4 bands. */
  def minHashCandidates(s: SparkSession, d: String): DataFrame =
    minHashCandidatesFrom(TextOps.shingles(Tables.documents(s, d), "text", 3))

  /** Same, over a caller-supplied (doc_id, shingle) frame (shareable with
    * the exact reference in q36). */
  def minHashCandidatesFrom(sh: DataFrame): DataFrame = {
    val numHashes = 16
    val bandSize = 2
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    val minhashes = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    // ONE posexplode over the per-band hash array — the union-of-selects
    // form re-evaluated the whole shingle+minhash pipeline once PER BAND
    // (8 scans); this shape computes the signatures once and fans out
    // band rows map-side.
    val bandHashes = array((0 until numHashes / bandSize).map { bnd =>
      xxhash64((0 until bandSize).map(j => col(s"mh_${bnd * bandSize + j}")): _*)
    }: _*)
    val bands = minhashes.select(col("doc_id"), posexplode(bandHashes))
      .toDF("doc_id", "band", "band_hash")
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    // unordered: every consumer aggregates or set-joins the pairs — a sort
    // here would range-shuffle the whole candidate set for nothing (display
    // edges order for themselves, like knn/exactCosinePairs callers do)
    a.join(bb, Seq("band", "band_hash")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    *
    * The rank is a `row_number` window filtered `<= k`, so Spark limits it
    * per query before the exchange (a WindowGroupLimit, its partial planned
    * as per-query heaps by [[graft.plans.TopKStrategy]]): the shuffle moves
    * O(k·|queries|·partitions) scored rows instead of the full
    * |corpus|·|queries| frame. The scored frame is projected to (query_id,
    * neighbor_id, sim_raw) first, so embeddings never enter the heaps or
    * the shuffle; the order (sim desc, neighbor_id asc) is total, so the
    * pruning cannot change the result.
    */
  def knn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim_raw", ArrayMath.cosine(col("cv"), col("qv")))
      .select(col("query_id"), col("neighbor_id"), col("sim_raw"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_raw").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim_raw"), 6).as("sim"), col("rn").as("rank"))
  }

  /** Banded-LSH all-pairs: candidates from bucket collisions, then exact
    * cosine ≥ `threshold`. Exposed for the recall unit test.
    *
    * 32 bands × 6 bits targets the mid-similarity regime this corpus has
    * (top pairs ≈ 0.5–0.6 cosine): recall ≈ 95% at sim 0.51, ≈ 99% at 0.6.
    * A production near-dup dedup (threshold ≥ 0.9) would raise bits to
    * 12–16, where candidate counts drop by orders of magnitude; at the
    * mid-similarity threshold the (1−θ/π) hyperplane gap is intrinsically
    * narrow, so bucket collisions stay a large fraction of all pairs and
    * the candidate ENUMERATION is the whole cost.
    *
    * Execution (round 12): the old shape materialized every colliding pair
    * as a join row (candidate stream → distinct → two embedding re-joins →
    * cosine), which at sf1 meant 1.1e8 join rows each carrying two 256-byte
    * float arrays — row assembly, not arithmetic, was 95% of the 166 s
    * wall. The rework co-locates each (band, bucket) with ONE shuffle of
    * n·bands signature rows (embeddings ride along once per band, not once
    * per pair) and runs the pairwise verify as a primitive-array loop per
    * bucket inside mapPartitions — the blocked-kernel constant a native
    * engine gets, ~7e9 fused multiply-adds for the same 1.1e8 pairs instead
    * of 1.1e8 row materializations. Only pairs within 1e-6 of the threshold
    * survive the kernel (a conservative raw-sim prefilter); the EXACT
    * round-at-6-then-filter contract — and therefore the emitted pair set,
    * bit-identical sims included — is unchanged, applied on the surviving
    * ~1e3-row stream. The verify calls `ArrayMath.cosine`, the kernel
    * `graft_cosine` runs, on each member wrapped once per bucket, so sims
    * are CosineSim's doubles by construction; a NULL (ragged pair, zero
    * norm) skips the pair. Vectors with null elements never reach it (their
    * signature is NULL, so posexplode drops them), so the kernel skips the
    * per-element null test. mapPartitions is justified here the same
    * way the multimodal decode is: Catalyst has no operator for "pairwise
    * kernel within a group without materializing the pairs as rows".
    * At much larger dim the embedding ride-along would dominate the
    * shuffle; there the signature-only join + re-join-on-verified-stream
    * shape wins — for dim 64 the ride-along is 32× n·256B ≈ tiny. */
  def annLsh(s: SparkSession, d: String, threshold: Double,
      bands: Int = 32, bits: Int = 6): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val exploded = emb.select(col("vec_id"),
        posexplode(graft.functions.Lsh.hyperplaneBands(
          col("embedding"), bands, bits, 64)),
        col("embedding"))
      .toDF("vec_id", "band", "bh", "embedding")
    val pairs = exploded
      .repartition(col("band"), col("bh"))
      .sortWithinPartitions(col("band"), col("bh"), col("vec_id"))
      .select(col("band"), col("bh"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Long, Array[Float])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[(Long, Array[Float])]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Array[(Long, Array[Float])] = {
            val head = buf.head
            val members = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Array[Float])]
            while (buf.hasNext &&
                buf.head._1 == head._1 && buf.head._2 == head._2) {
              val r = buf.next(); members += ((r._3, r._4))
            }
            members.toArray
          }
        }.flatMap { members =>
          val res = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Double)]
          val vecs = members.map(mb => UnsafeArrayData.fromPrimitiveArray(mb._2))
          val m = members.length
          var i = 0
          while (i < m) {
            var j = i + 1
            while (j < m) {
              val sim = ArrayMath.cosine(vecs(i), vecs(j),
                leftFloat = true, rightFloat = true, checkNulls = false)
              if (sim != null && sim >= threshold - 1e-6) {
                res += ((members(i)._1, members(j)._1, sim.doubleValue))
              }
              j += 1
            }
            i += 1
          }
          res.iterator
        }
      }
      .toDF("vec_a", "vec_b", "sim_raw")
    // unordered for the same reason as minHashCandidatesFrom: q35/q95 and
    // the recall specs filter/aggregate the pairs, and the sort survived
    // into the materialized plan (EliminateSorts only prunes under
    // joins/aggregates, not under a localCheckpoint)
    pairs
      .select(col("vec_a"), col("vec_b"),
        round(col("sim_raw"), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** IVF: k-means centroids as the coarse quantizer; every corpus vector is
    * assigned to its nearest cell, queries probe the `probes` nearest cells,
    * exact cosine runs only inside probed cells. */
  /** The IVF coarse index: k-means cell centroids collected once (driver-
    * side metadata, k·dim doubles) and rebroadcast as a tiny dimension
    * table. Shared by q48's IVF-flat and q158's IVF-PQ. */
  private def ivfIndex(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.embeddings(s, d)
    val vecs = emb.select(col("vec_id"),
      array_to_vector(col("embedding")).as("features")).cache()
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("features").fit(vecs)
    vecs.unpersist(blocking = false)
    val spark = s
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.toSeq) }.toSeq
      .toDF("cell", "cvec")
  }

  /** Keep each row's `n` nearest cells of the broadcast `cdf` index.
    * Nearest cell = argmin ||x||² − 2x·c + ||c||²; ||x||² constant per x. */
  private def rankCells(cdf: DataFrame, df: DataFrame, idCol: String,
      embCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(asc("dist2"), asc("cell"))
    df.crossJoin(broadcast(cdf))
      .withColumn("dist2",
        ArrayMath.dot(col("cvec"), col("cvec")) -
          lit(2.0) * ArrayMath.dot(col(embCol), col("cvec")))
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= n)
      .drop("cvec", "dist2", "cell_rank")
  }

  def ivfAnn(s: SparkSession, d: String, k: Int, probes: Int, topK: Int,
      qBound: Long = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cdf = ivfIndex(s, d, k)
    val assigned = rankCells(cdf,
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      "neighbor_id", "cv", 1)
    val probed = rankCells(cdf,
      emb.filter(col("vec_id") < qBound)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "query_id", "qv", probes)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim_raw"), asc("neighbor_id"))
    probed.join(assigned, Seq("cell"))
      .withColumn("sim_raw", ArrayMath.cosine(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim_raw"), 6).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }
}
