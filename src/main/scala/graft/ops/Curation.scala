package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Corpus-curation reports (round 13 of the SURVEY §2 extension surface) —
  * the four tables a training-data pipeline reads AFTER the dedup/quality
  * kernels have run: what dedup saves (q316), which eval items are
  * compromised (q317), how to upsample scarce sources under an epoch cap
  * (q318), and how sequence lengths distribute for the packer (q319).
  * Reference analogue: the reference's EDA stage
  * (/root/reference/Scripts/eda.py summary tables) applied to corpus
  * curation artifacts instead of retail columns.
  *
  * Scale shapes (100 TB): q316 consumes the BOUNDED q27 pair stream
  * (adaptive kernel) and iterates label propagation on the pair-incident
  * node set only — the corpus itself is touched once by the shingle scan;
  * q317 broadcasts the benchmark 4-gram universe (a real pipeline ships
  * eval-suite grams, a few MB) so the corpus side is one map-side explode
  * + broadcast join, and only (bench, train) hit pairs reach an exchange
  * — grams are xxhash64'd to 8-byte keys MAP-SIDE (the q308 dup-mass
  * pattern: collision odds n²/2⁶⁵, immaterial at corpus scale; the
  * oracle replays the same joins on the strings), so the broadcast
  * table, the join hashing, and the hit-pair exchange all move longs
  * instead of ~40-byte gram strings;
  * q318 reduces the corpus to ≤|sources|·|langs| cells in one
  * partial-aggregated scan (the q300 topology — every window after that
  * runs on a broadcast-sized frame); q319 is one scan into a two-level
  * partial aggregate. Cross-engine discipline: all-integer outputs
  * (counts, token sums, exact floor-division micros); SF²-growth products
  * form in DECIMAL(38,0)/HUGEINT per the repo overflow rule.
  */
object Curation {

  import Ranks.{dec, intDiv}

  val queries: Seq[Q] = Seq(

    // Dedup-savings report — the cluster-size histogram of the near-dup
    // graph plus what keep-canonical dedup actually saves: for each
    // cluster size, how many clusters, how many docs they hold, how many
    // drop (all but the canonical min-id member) and how many chars go
    // with them. This is the table that justifies a dedup pass in a
    // corpus review: q79 reports the totals, this one the SHAPE (many
    // pairs vs few big templates change the dedup strategy). The oracle
    // replays the clustering as an independent recursive CTE (transitive
    // closure → least-label components), so a wrong component or keeper
    // on the Spark side breaks the hash.
    Q("q316_dedup_savings",
      s"""WITH RECURSIVE ${TextOps.jaccardCtes},
        |jp AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |root AS (
        |  SELECT a AS node, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |cl AS (
        |  SELECT r.component, count(*) AS sz,
        |         CAST(sum(d.n_chars) AS BIGINT) AS chars_all,
        |         CAST(sum(CASE WHEN r.node = r.component THEN d.n_chars
        |                       ELSE 0 END) AS BIGINT) AS chars_kept
        |  FROM root r JOIN documents d ON r.node = d.doc_id GROUP BY 1)
        |SELECT sz AS cluster_size,
        |       CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(sum(sz) AS BIGINT) AS n_docs,
        |       CAST(sum(sz) - count(*) AS BIGINT) AS n_dropped,
        |       CAST(sum(chars_all - chars_kept) AS BIGINT) AS chars_dropped
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pairs = TextOps.exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cl = Graph.connectedComponents(pairs)
        .join(Tables.documents(s, d).select(col("doc_id").as("node"),
          col("n_chars")), "node")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("sz"),
          sum(col("n_chars")).as("chars_all"),
          sum(when(col("node") === col("component"), col("n_chars"))
            .otherwise(0L)).as("chars_kept"))
      cl.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).cast("long").as("n_docs"),
          (sum(col("sz")) - count(lit(1))).cast("long").as("n_dropped"),
          sum(col("chars_all") - col("chars_kept")).cast("long")
            .as("chars_dropped"))
        .orderBy(col("cluster_size"))
    },

    // Eval-contamination report — q92's decontamination flag turned into
    // the per-benchmark-item view an eval owner reads: for each held-out
    // doc (the deterministic doc_id % 97 slice), how many training docs
    // share a 4-token n-gram with it, how many distinct (bench-gram,
    // train-doc) overlaps exist in total, and the worst single-doc
    // overlap. 4-grams (vs q92's 8) because the report's job is to rank
    // SUSPICION — the tighter gram keeps borderline paraphrase overlap
    // visible; the firewall (q92) stays at 8 where a hit is conclusive.
    // Benchmark grams broadcast; hit pairs are near-zero cardinality.
    Q("q317_contamination_report",
      s"""WITH t AS (SELECT doc_id, ${TextOps.duckTokens} AS w FROM documents),
        |g4 AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(w) - 2),
        |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       || ' ' || w[i+3])) AS g
        |    FROM t WHERE len(w) >= 4)),
        |b AS (SELECT doc_id AS bench_id, g FROM g4 WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_id, g FROM g4 WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT bench_id, train_id, count(*) AS shared
        |  FROM b JOIN tr USING (g) GROUP BY 1, 2)
        |SELECT bench_id AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_train_docs,
        |       CAST(sum(shared) AS BIGINT) AS n_shared_grams,
        |       CAST(max(shared) AS BIGINT) AS worst_overlap
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = TextOps.tokens(col("text"))
      // Probe-side corpus scan IS the whole cost of this query (the
      // bench side broadcasts), so the scan is kept to ONE tokenizer
      // evaluation (round-14 profile at sf3: tokenize 5.6 s of the 15 s
      // total, and it ran TWICE):
      //  - the short-doc guard is a when() INSIDE the gram projection,
      //    not a filter: PushPredicateThroughNonJoin substitutes the
      //    alias into a filter's predicate, so `filter(size(w) >= 4)`
      //    re-evaluated the split below the projection — the whole
      //    corpus tokenized twice. (CollapseProject will not inline a
      //    non-cheap multi-referenced alias, so the two stacked
      //    projections keep exactly one split.)
      //  - xxhash64 runs over the four tokens DIRECTLY (seed-chained
      //    varargs) instead of a concatenated gram string — no 7M+
      //    string builds; position-fixed hashing has the same
      //    discriminating power and the oracle's FULL-string-gram
      //    agreement rests on the same no-64-bit-collision footing.
      val g4 = Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"), explode(when(size(col("w")) >= 4,
          array_distinct(transform(
            sequence(lit(1), size(col("w")) - 3),
            i => xxhash64(element_at(col("w"), i),
              element_at(col("w"), i + 1), element_at(col("w"), i + 2),
              element_at(col("w"), i + 3)))))
          .otherwise(array().cast("array<bigint>"))).as("g"))
      val bench = g4.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("g"))
      val train = g4.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("train_id"), col("g"))
      train.join(broadcast(bench), "g")
        .groupBy(col("bench_id"), col("train_id"))
        .agg(count(lit(1)).as("shared"))
        .groupBy(col("bench_id").as("doc_id"))
        .agg(count(lit(1)).as("n_train_docs"),
          sum(col("shared")).cast("long").as("n_shared_grams"),
          max(col("shared")).cast("long").as("worst_overlap"))
        .orderBy(col("doc_id"))
    },

    // Epoch-capped upsampling plan — the data-constrained mixture step:
    // spend a target of 150% of the corpus tokens across (source, lang)
    // cells where each cell may repeat at most 4 epochs (alloc ≤ 4·avail
    // — repeating scarce data further stops helping). Same level-set
    // scan as q300 with the cap column in avail's place: cells sorted by
    // cap (monotone in avail, tie-broken identically), strict acceptance
    // li < cap with the i = m totalizer, clamped numerator — the proven
    // round-13 water-fill form, second consumer. epochs_micro =
    // alloc·10⁶ div avail says how many epochs each source runs; the
    // product promotes to DECIMAL(38,0)/HUGEINT (avail scales with SF,
    // BIGINT dies near 9e12 corpus tokens). target = 3·total div 2 <
    // 4·total = Σcap whenever total > 0, so the last index always
    // accepts strictly and the scan is total.
    Q("q318_epoch_plan",
      s"""WITH t AS (
        |  SELECT source, lang, len(${TextOps.duckTokens}) AS ntok FROM documents),
        |d AS (SELECT source, lang, CAST(sum(ntok) AS BIGINT) AS avail
        |      FROM t GROUP BY 1, 2),
        |g AS (SELECT count(*) AS m, (sum(avail) * 3) // 2 AS target FROM d),
        |o AS (
        |  SELECT source, lang, avail, 4 * avail AS cap,
        |         row_number() OVER (ORDER BY avail, source, lang) AS i,
        |         coalesce(sum(4 * avail) OVER (
        |           ORDER BY avail, source, lang
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS pre
        |  FROM d),
        |cand AS (
        |  SELECT i, greatest(0, target - pre) // (m - i + 1) AS li
        |  FROM o, g
        |  WHERE greatest(0, target - pre) // (m - i + 1) < cap OR i = m),
        |lvl AS (SELECT li AS level FROM cand ORDER BY i LIMIT 1)
        |SELECT source, lang, avail AS avail_tok,
        |       CAST(least(cap, level) AS BIGINT) AS alloc_tok,
        |       CAST(CAST(least(cap, level) AS HUGEINT) * 1000000 // avail
        |            AS BIGINT) AS epochs_micro,
        |       cap <= level AS capped
        |FROM o, lvl ORDER BY source, lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val av = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
        .groupBy(col("source"), col("lang")).agg(sum(col("ntok")).as("avail"))
      val g = av.agg(count(lit(1)).as("m"),
        intDiv(sum(col("avail")) * 3, lit(2)).as("target"))
      val w = Window.orderBy(col("avail"), col("source"), col("lang"))
      val o = av
        .withColumn("cap", col("avail") * 4)
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("pre", coalesce(
          sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .crossJoin(broadcast(g))
      val li = intDiv(greatest(lit(0L), col("target") - col("pre")),
        col("m") - col("i") + 1)
      val lvl = o.withColumn("li", li)
        .filter(col("li") < col("cap") || col("i") === col("m"))
        .orderBy(col("i")).limit(1)
        .select(col("li").as("level"))
      o.crossJoin(broadcast(lvl))
        .select(col("source"), col("lang"), col("avail").as("avail_tok"),
          least(col("cap"), col("level")).cast("long").as("alloc_tok"),
          intDiv(dec(least(col("cap"), col("level"))) * 1000000L,
            col("avail")).as("epochs_micro"),
          (col("cap") <= col("level")).as("capped"))
        .orderBy(col("source"), col("lang"))
    },

    // Sequence-length histogram — the packer's input distribution: token
    // lengths bucketed to 16 per source, with each bucket's doc count,
    // token mass, and exact-micro shares of its source. The table that
    // sizes packing windows (q102/q307 consume the same lengths) and
    // flags sources whose length profile shifted between snapshots. ONE
    // corpus scan reduced map-side to (source, bucket) cells; the share
    // denominators ride a second partial aggregate over those cells.
    // Count·10⁶ products promote per the overflow rule (1e12 docs × 1e6
    // overflows BIGINT).
    Q("q319_seqlen_histogram",
      s"""WITH t AS (
        |  SELECT source, len(${TextOps.duckTokens}) AS ntok FROM documents),
        |b AS (
        |  SELECT source, (ntok // 16) * 16 AS bucket_lo,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(ntok) AS BIGINT) AS tok_sum
        |  FROM t GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS nd,
        |             CAST(sum(tok_sum) AS BIGINT) AS nt
        |      FROM b GROUP BY 1)
        |SELECT b.source, CAST(bucket_lo AS BIGINT) AS bucket_lo,
        |       n_docs, tok_sum,
        |       CAST(CAST(n_docs AS HUGEINT) * 1000000 // nd AS BIGINT)
        |         AS doc_share_micro,
        |       CAST(CAST(tok_sum AS HUGEINT) * 1000000 // nt AS BIGINT)
        |         AS tok_share_micro
        |FROM b JOIN s USING (source) ORDER BY source, bucket_lo""".stripMargin) {
      (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
      val b = t.groupBy(col("source"),
          (intDiv(col("ntok"), lit(16L)) * 16).as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok_sum"))
      val tot = b.groupBy(col("source"))
        .agg(sum(col("n_docs")).as("nd"), sum(col("tok_sum")).as("nt"))
      b.join(tot, "source")
        .select(col("source"), col("bucket_lo").cast("long").as("bucket_lo"),
          col("n_docs").cast("long").as("n_docs"),
          col("tok_sum").cast("long").as("tok_sum"),
          intDiv(dec(col("n_docs")) * 1000000L, col("nd"))
            .as("doc_share_micro"),
          intDiv(dec(col("tok_sum")) * 1000000L, col("nt"))
            .as("tok_share_micro"))
        .orderBy(col("source"), col("bucket_lo"))
    }
  )
}
