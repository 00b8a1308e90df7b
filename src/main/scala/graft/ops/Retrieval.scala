package graft.ops

import graft.{Q, Tables}
import graft.functions.ArrayMath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Retrieval operators over `documents` + `embeddings`: BM25 lexical
  * scoring and hybrid lexical+dense fusion (reciprocal rank fusion) — the
  * two retrieval primitives a training-data pipeline runs when mining a
  * corpus for query-relevant documents (hard-negative mining, targeted
  * decontamination, RAG index QA). The reference corpus has no query log,
  * so the standing query is doc 0 itself: its distinct tokens are the
  * lexical query, its embedding the dense query, and doc 0 is excluded
  * from the retrieval corpus (standard leave-one-out probe).
  *
  * Scale notes (100 TB):
  *   - BM25 is the posting-list access pattern: the corpus-wide tf table
  *     reduces once (one hash aggregate off a single tokenize pass); the
  *     join against the query-term list is a broadcast semi-filter, so
  *     only postings of query terms — a vanishing fraction of the corpus —
  *     ever reach the per-doc score aggregate. df and avgdl are
  *     vocabulary-sized / single-row broadcasts.
  *   - Ranking is TakeOrdered top-k, never a corpus-wide window: each
  *     retriever yields its k best via sort-limit (per-partition top-k +
  *     driver merge), and only those k-row lists get rank row_numbers and
  *     enter the fusion join. This is exactly the per-shard top-k → merge
  *     topology of a distributed search tier.
  *   - RRF needs only ranks, so near-tie float drift cannot leak into the
  *     fused score: ranks are assigned on ROUNDED bm25 (6 dp, doc_id
  *     tie-break) and raw cosine (bit-comparable across engines — the
  *     same codegen'd double fold as q33), making every rank, and hence
  *     every 1/(60+r) term, integer-derived and cross-engine exact.
  */
object Retrieval {

  private val K1 = 1.2
  private val B = 0.75

  /** BM25 scores of every corpus doc against the distinct tokens of
    * `queryDoc` (excluded from the corpus). Returns (doc_id, score) with
    * score > 0 — only docs sharing ≥1 query term appear. Expression
    * shapes mirror the DuckDB oracle token for token so the doubles
    * entering the final sum are bit-identical; the sum itself is guarded
    * by rounded-rank consumption (see object doc). */
  def bm25Scores(s: SparkSession, d: String, queryDoc: Long): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val qt = t.filter(col("doc_id") === queryDoc).select("tok").distinct()
    // ONE tokenize pass feeds query terms and corpus postings; tf is the
    // only corpus-sized aggregate and everything downstream derives from
    // it (len = Σc per doc, df = rows per tok) — the q70 pattern.
    val tf = t.filter(col("doc_id") =!= queryDoc)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      // ckpt(a): q132/q133 len, df + scoring; lazy 1.5×/1.2× at sf1 (BENCH_NOTES)
      .eagerCkpt
    val len = tf.groupBy("doc_id").agg(sum(col("c")).as("len"))
    val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.filter(col("doc_id") =!= queryDoc)
      .agg(count(lit(1)).as("n"))
    val avgdl = len.agg(avg(col("len").cast("double")).as("avgdl"))
    // Robertson-Sparck-Jones idf, ln(1 + (N - df + .5)/(df + .5)) —
    // always positive, so per-term scores and their sums are positive.
    val idf = log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * (col("c") * lit(K1 + 1)) /
      (col("c") + lit(K1) *
        (lit(1) - lit(B) + lit(B) * col("len").cast("double") / col("avgdl")))
    tf.join(broadcast(qt), "tok")        // postings of query terms only
      .join(broadcast(dfT), "tok")
      .join(len, "doc_id")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avgdl))
      .groupBy("doc_id")
      .agg(sum(termScore).as("score"))
  }

  /** Top-k of `scored` by (round(score,6) DESC, doc_id) with a 1-based
    * rank column — sort-limit (TakeOrdered) then row_number over the
    * surviving k rows, which equals the global rank because the limit
    * used the identical total order. */
  private def topKRanked(scored: DataFrame, k: Int, rankName: String): DataFrame = {
    val w = Window.orderBy(desc("score_r"), asc("doc_id"))
    scored.withColumn("score_r", round(col("score"), 6))
      .orderBy(desc("score_r"), asc("doc_id")).limit(k)
      .withColumn(rankName, row_number().over(w).cast("int"))
  }

  /** Shared DuckDB CTE prefix: tokenize → query terms of doc 0 → corpus
    * postings → tf/len/df/N/avgdl → per-doc BM25 sum. Interpolated into
    * both oracles so the two SQL texts can never drift. */
  private val bm25OracleCte =
    """t AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id,
      |           unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''),
      |qt AS (SELECT DISTINCT tok FROM t WHERE doc_id = 0),
      |tf AS (SELECT doc_id, tok, count(*) AS c FROM t
      |       WHERE doc_id <> 0 GROUP BY 1, 2),
      |len AS (SELECT doc_id, sum(c) AS len FROM tf GROUP BY 1),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents WHERE doc_id <> 0),
      |avgdl AS (SELECT avg(CAST(len AS DOUBLE)) AS avgdl FROM len),
      |scored AS (
      |  SELECT tf.doc_id,
      |         sum(ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
      |             (tf.c * 2.2) /
      |             (tf.c + 1.2 * (1 - 0.75 + 0.75 *
      |                CAST(len.len AS DOUBLE) / avgdl.avgdl))) AS score
      |  FROM tf JOIN qt USING (tok) JOIN df USING (tok)
      |       JOIN len USING (doc_id) CROSS JOIN n CROSS JOIN avgdl
      |  GROUP BY tf.doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(

    // BM25 top-10 for the leave-one-out probe query (doc 0's tokens).
    // k1=1.2, b=0.75 (the standard defaults). Ranking key is the ROUNDED
    // score so cross-engine summation-order drift in the tail bits cannot
    // reorder near-ties; doc_id breaks exact rounded ties identically in
    // both engines.
    Q("q132_bm25",
      s"""WITH $bm25OracleCte
        |SELECT doc_id, bm25, rank FROM (
        |  SELECT doc_id, round(score, 6) AS bm25,
        |         CAST(row_number() OVER (ORDER BY round(score, 6) DESC,
        |                                 doc_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
      topKRanked(bm25Scores(s, d, 0L), 10, "rank")
        .select(col("doc_id"), col("score_r").as("bm25"), col("rank"))
        .orderBy("rank")
    },

    // Hybrid retrieval: BM25 top-20 + dense-cosine top-20 fused by
    // reciprocal rank fusion (k=60). The dense query is doc 0's embedding
    // (vec_id = doc_id by construction); cosine is the q33 codegen'd
    // double fold, ranked on the raw value exactly as q33 is. Docs in one
    // list only carry a null rank for the other retriever — RRF's
    // coalesce(1/(60+r), 0) handles the miss. Every fused score is a sum
    // of two rank-derived doubles in written order: cross-engine exact.
    Q("q133_hybrid_rrf",
      s"""WITH $bm25OracleCte,
        |lex AS (
        |  SELECT doc_id, r_lex FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY round(score, 6)
        |               DESC, doc_id) AS INT) AS r_lex FROM scored)
        |  WHERE r_lex <= 20),
        |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT vec_id AS doc_id,
        |         list_sum(list_transform(range(1, len(cv) + 1),
        |             i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |                i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |                i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))))
        |           AS sim
        |  FROM (SELECT vec_id, embedding AS cv FROM embeddings
        |        WHERE vec_id <> 0) CROSS JOIN qv),
        |dense AS (
        |  SELECT doc_id, r_dense FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC,
        |               doc_id) AS INT) AS r_dense FROM sims)
        |  WHERE r_dense <= 20)
        |SELECT doc_id, r_lex, r_dense, rrf, rank FROM (
        |  SELECT coalesce(l.doc_id, dn.doc_id) AS doc_id, l.r_lex,
        |         dn.r_dense,
        |         round(coalesce(1 / CAST(60 + l.r_lex AS DOUBLE), 0) +
        |               coalesce(1 / CAST(60 + dn.r_dense AS DOUBLE), 0), 6)
        |           AS rrf,
        |         CAST(row_number() OVER (ORDER BY
        |             coalesce(1 / CAST(60 + l.r_lex AS DOUBLE), 0) +
        |             coalesce(1 / CAST(60 + dn.r_dense AS DOUBLE), 0) DESC,
        |             coalesce(l.doc_id, dn.doc_id)) AS INT) AS rank
        |  FROM lex l FULL OUTER JOIN dense dn ON l.doc_id = dn.doc_id)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
      val lex = topKRanked(bm25Scores(s, d, 0L), 20, "r_lex")
        .select("doc_id", "r_lex")
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val wD = Window.orderBy(desc("sim"), asc("doc_id"))
      val dense = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          ArrayMath.cosine(col("embedding"), col("qv")).as("sim"))
        .orderBy(desc("sim"), asc("doc_id")).limit(20)
        .withColumn("r_dense", row_number().over(wD).cast("int"))
        .select("doc_id", "r_dense")
      val rrfRaw =
        coalesce(lit(1) / (lit(60) + col("r_lex")).cast("double"), lit(0)) +
        coalesce(lit(1) / (lit(60) + col("r_dense")).cast("double"), lit(0))
      val wF = Window.orderBy(desc("rrf_raw"), asc("doc_id"))
      // both lists are k-row driver-sized frames; the fusion join, the
      // rank window, and the final sort never touch corpus-scale data
      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf_raw", rrfRaw)
        .withColumn("rank", row_number().over(wF).cast("int"))
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("r_lex"), col("r_dense"),
          round(col("rrf_raw"), 6).as("rrf"), col("rank"))
        .orderBy("rank")
    },

    // Retrieval EVALUATION — MRR, Recall@10, NDCG@10 of the dense
    // retriever under label relevance (neighbor relevant ⟺ same class
    // label as the query): the eval harness a retrieval index ships with,
    // and the quality gate q35/q48/q143 express only as booleans. Five
    // probe queries (vec_id < 5) against the leave-queries-out corpus;
    // ranks come from the q33 kernel (raw-cosine order, id tie-break —
    // bit-comparable across engines). MRR is one exact division;
    // Recall@10 divides two exact integers; DCG/IDCG are ≤10-term
    // ln-ratio sums emitted only as ONE rounded quotient (the q134
    // rounded-sum precedent). Scale shape: the corpus crossJoins only the
    // broadcast 5-row query slice (q33's topology), label lookups join
    // the 50-row top-k lists, and every metric frame after that is
    // queries-sized.
    Q("q157_retrieval_eval",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
        |      FROM embeddings WHERE vec_id >= 5),
        |sims AS (
        |  SELECT q.query_id, q.ql, c.neighbor_id, c.nl,
        |         list_sum(list_transform(range(1, len(cv) + 1),
        |             i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |                i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |                i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))))
        |           AS sim_raw
        |  FROM c CROSS JOIN q),
        |top AS (
        |  SELECT query_id, ql, neighbor_id, nl, rank FROM (
        |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY sim_raw DESC, neighbor_id) AS INT) AS rank
        |    FROM sims) WHERE rank <= 10),
        |nrel AS (
        |  SELECT q.query_id, count(*) AS n_rel
        |  FROM q JOIN c ON c.nl = q.ql GROUP BY 1),
        |m AS (
        |  SELECT query_id,
        |         CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_rel_top10,
        |         min(CASE WHEN nl = ql THEN rank END) AS first_rel,
        |         sum(CASE WHEN nl = ql THEN ln(2) / ln(rank + 1)
        |                  ELSE 0 END) AS dcg
        |  FROM top GROUP BY 1),
        |ideal AS (
        |  SELECT query_id, sum(ln(2) / ln(r + 1)) AS idcg
        |  FROM (SELECT query_id,
        |               unnest(range(1, least(10, n_rel) + 1)) AS r
        |        FROM nrel)
        |  GROUP BY 1)
        |SELECT m.query_id, q.ql AS query_label,
        |       CAST(n.n_rel AS BIGINT) AS n_rel_corpus, m.n_rel_top10,
        |       round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
        |       round(CAST(m.n_rel_top10 AS DOUBLE) / n.n_rel, 6)
        |         AS recall_at_10,
        |       round(CASE WHEN coalesce(idcg, 0) > 0 THEN m.dcg / idcg
        |                  ELSE 0.0 END, 6) AS ndcg_at_10
        |FROM m JOIN q ON m.query_id = q.query_id
        |JOIN nrel n ON n.query_id = m.query_id
        |LEFT JOIN ideal ON ideal.query_id = m.query_id
        |ORDER BY m.query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val labels = emb.select(col("vec_id"), col("label"))
      val ql = labels.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label").as("ql"))
      val top = graft.ops.Similarity.knn(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5), 10)
      val withLabels = labels
        .select(col("vec_id").as("neighbor_id"), col("label").as("nl"))
        .join(broadcast(top.join(broadcast(ql), "query_id")), "neighbor_id")
      val rel = col("nl") === col("ql")
      val m = withLabels.groupBy("query_id").agg(
        sum(when(rel, 1).otherwise(0)).cast("long").as("n_rel_top10"),
        min(when(rel, col("rank"))).as("first_rel"),
        sum(when(rel, log(lit(2.0)) / log(col("rank") + 1))
          .otherwise(0.0)).as("dcg"))
      val nrel = ql.join(
          broadcast(emb.filter(col("vec_id") >= 5)
            .groupBy(col("label").as("nl")).agg(count(lit(1)).as("n_rel"))),
          col("ql") === col("nl"))
        .select(col("query_id"), col("n_rel"))
      val ideal = nrel
        .withColumn("r", explode(when(col("n_rel") >= 1,
          sequence(lit(1), least(lit(10), col("n_rel").cast("int"))))
          .otherwise(array().cast("array<int>"))))
        .groupBy("query_id")
        .agg(sum(log(lit(2.0)) / log(col("r") + 1)).as("idcg"))
      m.join(broadcast(ql), "query_id")
        .join(broadcast(nrel), "query_id")
        .join(broadcast(ideal), Seq("query_id"), "left")
        .select(col("query_id"), col("ql").as("query_label"),
          col("n_rel").cast("long").as("n_rel_corpus"), col("n_rel_top10"),
          round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
          round(col("n_rel_top10").cast("double") / col("n_rel"), 6)
            .as("recall_at_10"),
          round(when(coalesce(col("idcg"), lit(0.0)) > 0,
            col("dcg") / col("idcg")).otherwise(0.0), 6).as("ndcg_at_10"))
        .orderBy("query_id")
    }
  )
}
