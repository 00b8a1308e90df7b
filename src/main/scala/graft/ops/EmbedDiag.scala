package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.ArrayMath

/** Embedding-space diagnostics — the health checks a training-data
  * pipeline runs over an embedding column before trusting it for
  * semantic dedup (q95), ANN retrieval (q35/q48/q158) or curation
  * decisions: kNN hubness (the curse-of-dimensionality symptom that
  * silently degrades every kNN-based curation step — Radovanović et
  * al., JMLR 2010, public literature), kth-NN radius outliers (isolated
  * points whose neighborhoods are meaningless), TwoNN intrinsic-
  * dimension sufficient statistics (Facco et al., Scientific Reports
  * 2017 — the two-nearest-neighbor distance-ratio estimator), and int8
  * quantization saturation (whether the q297 symmetric quantizer's
  * value range actually uses its 8 bits per dimension).
  *
  * Extension surface beyond the reference's scripts (the reference
  * stops at feature assembly, /root/reference/Scripts/model.py) — these
  * are the checks its pipeline would need before scaling the embedding
  * column to 100 TB.
  *
  * Scale shapes: every kNN here is the q33/q34 bounded-slice pattern —
  * the query slice broadcasts, the corpus streams through ONE codegen
  * kernel evaluation per (corpus row × slice row) and reduces through a
  * heap-pruned `row_number` window (q244); nothing corpus-sized is ever
  * collected or re-shuffled wider than (id, id, measure). Cross-engine
  * float discipline: distances/similarities are the SAME ascending-
  * index double folds the oracles spell (q33/q41 precedent), compared
  * only through per-row round(·, 6) and deterministic (measure, id)
  * orderings; cross-row AGGREGATES stay in exact integers. */
object EmbedDiag {

  /** Query slice bound shared by the kNN diagnostics: a fixed 400-query
    * slice at every SF (covers 400 of the 500 sf0.001/sf0.01 embeddings,
    * identical bound in both engines) — the exactness slice, like q34's
    * `vec_id < 200`. */
  private val SliceBound = 400

  /** The q33 cosine-fold oracle text, parameterized by the CTE names. */
  private def cosineFold(cv: String, qv: String): String =
    s"""list_sum(list_transform(range(1, len($cv) + 1),
       |             i -> CAST($cv[i] AS DOUBLE) * CAST($qv[i] AS DOUBLE)))
       |         / (sqrt(list_sum(list_transform(range(1, len($cv) + 1),
       |                i -> CAST($cv[i] AS DOUBLE) * CAST($cv[i] AS DOUBLE))))
       |          * sqrt(list_sum(list_transform(range(1, len($qv) + 1),
       |                i -> CAST($qv[i] AS DOUBLE) * CAST($qv[i] AS DOUBLE)))))""".stripMargin

  /** The q41 squared-L2 fold (widen each element to double before
    * subtract/square — the SquaredL2 kernel's exact evaluation order). */
  private def sqL2Fold(cv: String, qv: String): String =
    s"""list_sum(list_transform(range(1, len($cv) + 1),
       |             i -> (CAST($cv[i] AS DOUBLE) - CAST($qv[i] AS DOUBLE))
       |                * (CAST($cv[i] AS DOUBLE) - CAST($qv[i] AS DOUBLE))))""".stripMargin

  val queries: Seq[Q] = Seq(

    // kNN hubness: in-degree of each corpus vector in the k=5 cosine kNN
    // graph of the query slice (self-matches excluded — a vector is not
    // its own neighbor). High-dimensional embedding spaces concentrate
    // in-degree onto a few "hub" vectors (Radovanović JMLR'10); a heavy
    // top-20 here means every kNN-driven curation step (semantic dedup,
    // hard-negative mining, MMR) is being steered by the same few
    // points. Corpus side streams once through the fused cosine kernel
    // and reduces via map-side top-k heaps; the in-degree aggregate is
    // one (id → count) shuffle no wider than the corpus.
    Q("q321_knn_hubness",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < $SliceBound),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |sims AS (
        |  SELECT q.query_id, c.neighbor_id,
        |         ${cosineFold("cv", "qv")}
        |           AS sim_raw
        |  FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sim_raw DESC, neighbor_id) AS rn
        |  FROM sims)
        |SELECT neighbor_id AS hub_id, CAST(count(*) AS BIGINT) AS in_degree
        |FROM r WHERE rn <= 5
        |GROUP BY 1 ORDER BY in_degree DESC, hub_id LIMIT 20""".stripMargin) {
      (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < SliceBound)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = emb
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          ArrayMath.cosine(col("cv"), col("qv")).as("sim_raw"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim_raw").desc, col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .groupBy(col("neighbor_id"))
        .agg(count(lit(1)).as("in_degree"))
        .orderBy(col("in_degree").desc, col("neighbor_id"))
        .limit(20)
        .select(col("neighbor_id").as("hub_id"), col("in_degree"))
    },

    // kth-NN radius outliers: the squared L2 distance to the 5th nearest
    // neighbor, per query-slice vector — the 20 largest radii are the
    // corpus's most isolated points (their "neighborhoods" are noise;
    // semantic dedup and kNN label propagation should not trust them).
    // Same bounded-slice single-kernel-pass shape as q321; the kth
    // distance falls out of the same top-k heap at rank k.
    Q("q322_knn_radius_outliers",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < $SliceBound),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |d AS (
        |  SELECT q.query_id, c.neighbor_id,
        |         ${sqL2Fold("cv", "qv")}
        |           AS d2_raw
        |  FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id),
        |r AS (
        |  SELECT query_id, d2_raw,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY d2_raw, neighbor_id) AS rn
        |  FROM d)
        |SELECT query_id, round(d2_raw, 6) AS d5_sq
        |FROM r WHERE rn = 5
        |ORDER BY d2_raw DESC, query_id LIMIT 20""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < SliceBound)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = emb
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          ArrayMath.squaredL2(col("cv"), col("qv")).as("d2_raw"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d2_raw"), col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 5)
        .orderBy(col("d2_raw").desc, col("query_id"))
        .limit(20)
        .select(col("query_id"), round(col("d2_raw"), 6).as("d5_sq"))
    },

    // TwoNN intrinsic-dimension sufficient statistics (Facco et al.
    // 2017): per slice vector, the squared distances to its 1st and 2nd
    // nearest neighbors and their ratio μ² = d2²/d1². The estimator is
    // consumer arithmetic over these rows — ID ≈ 2n / Σ ln μ² — kept
    // OUT of the query because a cross-row Σ of logs is a float-
    // summation-order hazard across engines; the emitted per-row ratios
    // are order-independent and exactly comparable. Coincident points
    // (d1 = 0) carry no local-dimension signal and are filtered in both
    // engines, per the estimator's own convention.
    Q("q320_twonn_stats",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < $SliceBound),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |d AS (
        |  SELECT q.query_id, c.neighbor_id,
        |         ${sqL2Fold("cv", "qv")}
        |           AS d2_raw
        |  FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id),
        |r AS (
        |  SELECT query_id, d2_raw,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY d2_raw, neighbor_id) AS rn
        |  FROM d),
        |p AS (
        |  SELECT query_id,
        |         max(CASE WHEN rn = 1 THEN d2_raw END) AS d1_raw,
        |         max(CASE WHEN rn = 2 THEN d2_raw END) AS d2r
        |  FROM r WHERE rn <= 2 GROUP BY 1)
        |SELECT query_id, round(d1_raw, 6) AS d1_sq, round(d2r, 6) AS d2_sq,
        |       round(d2r / d1_raw, 6) AS mu2
        |FROM p WHERE d1_raw > 0 ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < SliceBound)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = emb
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          ArrayMath.squaredL2(col("cv"), col("qv")).as("d2_raw"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d2_raw"), col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .groupBy(col("query_id"))
        .agg(max(when(col("rn") === 1, col("d2_raw"))).as("d1_raw"),
          max(when(col("rn") === 2, col("d2_raw"))).as("d2r"))
        .filter(col("d1_raw") > 0)
        .select(col("query_id"), round(col("d1_raw"), 6).as("d1_sq"),
          round(col("d2r"), 6).as("d2_sq"),
          round(col("d2r") / col("d1_raw"), 6).as("mu2"))
        .orderBy("query_id")
    },

    // int8 quantization saturation, per dimension — whether the q297
    // symmetric per-vector quantizer (scale = max|x|/127, code =
    // round(x/scale)) actually spends its 8 bits: a dimension whose
    // codes pile up at 0 is being crushed by another dimension's
    // outliers (per-vector scaling shares one scale across dims), and a
    // high ±127 count means THAT dimension dictates every vector's
    // scale. All-integer output — code counts and exact BIGINT code
    // sums — so the cross-engine compare carries no float at all; one
    // corpus scan, one (dim → counters) shuffle of |dims| groups.
    Q("q323_quant_saturation",
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |cds AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |             x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))
        |           AS codes
        |  FROM s WHERE scale > 0),
        |e AS (
        |  -- constant-bound range + length guard: DuckDB's range table
        |  -- function rejects lateral column parameters (q28 pattern)
        |  SELECT CAST(i AS INT) AS dim, codes[CAST(i AS INT)] AS code
        |  FROM cds, range(1, 4096) r(i) WHERE i <= len(codes))
        |SELECT dim, CAST(count(*) AS BIGINT) AS n_codes,
        |       CAST(sum(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_saturated,
        |       CAST(sum(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero,
        |       CAST(sum(code) AS BIGINT) AS sum_code,
        |       CAST(sum(abs(code)) AS BIGINT) AS sum_abs
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
      // fused codegen quantizer (scale + codes in one pass, NULL where the
      // unfused form's `scale > 0` filter would drop the row) — replaces
      // three interpreted HOF passes + a per-element BigDecimal round
      val codes = Tables.embeddings(s, d)
        .withColumn("codes", ArrayMath.int8Codes(col("embedding")))
        .filter(col("codes").isNotNull)
      codes
        .select(posexplode(col("codes")).as(Seq("pos", "code")))
        // posexplode is 0-based; the oracle's range(1, len+1) is 1-based
        .select((col("pos") + 1).cast("int").as("dim"), col("code"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n_codes"),
          sum((abs(col("code")) === 127).cast("int")).cast("long")
            .as("n_saturated"),
          sum((col("code") === 0).cast("int")).cast("long").as("n_zero"),
          sum(col("code")).cast("long").as("sum_code"),
          sum(abs(col("code"))).cast("long").as("sum_abs"))
        .orderBy("dim")
    })
}
