package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.Ckpt._

/** Training-corpus assembly operators (SURVEY.md §2 extension surface) —
  * the three planning steps that sit between a curated corpus and a
  * training run: preference-pair mining (the DPO/RLHF chosen-vs-rejected
  * construction over per-prompt scored candidates), token-budget corpus
  * selection (greedy quality-ranked selection under a global token
  * budget), and mixture water-filling (allocating a token budget across
  * sources with per-source availability caps — the level-set allocation
  * behind mixture weights that can't over-draw a small source).
  * Reference analogue: the reference's train/test assembly stage
  * (/root/reference/Scripts/model.py randomSplit + feature selection)
  * generalized to corpus-level budget planning.
  *
  * Scale shapes (100 TB): q298 is ONE user-keyed shuffle with map-side
  * partial struct-max/min aggregation (no window, no join); q299 reduces
  * the corpus to (doc_id, lang, ntok, score) map-side, then runs the
  * q130 block-offset topology for the global running token sum — the
  * only SinglePartition carries ≤32 block totals; q300 reduces the
  * corpus to ≤|sources| rows with one partial-aggregated scan and does
  * all level arithmetic on that broadcast-sized frame. Cross-engine
  * float discipline: scores, budgets, levels, and allocations are all
  * integer-valued (milli-scores, token counts) — the only division is
  * exact integer floor division on nonnegative operands, identical in
  * both engines; no floats cross the engine boundary at all.
  */
object Training {

  /** English stopword heads (the q28 lang-id "en" list): the density
    * signal q299 ranks by — natural running text hits these constantly,
    * boilerplate/code/noise barely at all. */
  private val stopEn = Seq("the", "a", "and", "of", "to", "in", "is")

  /** LONG from the start: size() is IntegerType, and every consumer
    * multiplies this by a scale constant (×1000 milli-score, ×100 funnel
    * ratio) — the products must form in 64-bit like the oracles' BIGINT
    * len(), or a pathological ~2.1M-stop-hit document wraps silently on
    * the Spark side only. */
  private def stopHits(t: Column): Column =
    size(filter(t, x => array_contains(array(stopEn.map(lit): _*), x)))
      .cast("long")

  import Ranks.{dec, intDiv}

  /** DuckDB spelling of the stopword list. */
  private val duckStopList =
    stopEn.map(w => s"'$w'").mkString("[", ", ", "]")

  val queries: Seq[Q] = Seq(

    // Preference-pair mining — the DPO/RLHF construction: treat each
    // user's scored events as candidate responses to one prompt and emit
    // the (chosen, rejected) pair with the widest reward margin, keeping
    // only pairs whose margin clears a threshold (weak preferences teach
    // nothing). Scores enter as exact integer cents (the q296 rounding
    // channel, proven cross-engine), so extreme selection and the margin
    // are pure integer work. Tie-breaks are total: equal-score candidates
    // resolve to the SMALLEST event_id on both ends, via lexicographic
    // struct extremes — max(struct(c, −id)) / min(struct(c, id)) — which
    // aggregate with map-side partial combine. ONE user-keyed exchange,
    // no window, no self-join: at 100 TB this is a single shuffle whose
    // reduce side holds |users| structs, and the pair table it emits is
    // exactly the training artifact a preference-tuning run consumes.
    Q("q298_preference_pairs",
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |s AS (
        |  SELECT user_id, max(c) AS mx, min(c) AS mn, count(*) AS n
        |  FROM e GROUP BY 1),
        |ch AS (
        |  SELECT e.user_id, min(e.event_id) AS chosen_id
        |  FROM e JOIN s ON e.user_id = s.user_id AND e.c = s.mx
        |  GROUP BY 1),
        |rj AS (
        |  SELECT e.user_id, min(e.event_id) AS rejected_id
        |  FROM e JOIN s ON e.user_id = s.user_id AND e.c = s.mn
        |  GROUP BY 1)
        |SELECT s.user_id, ch.chosen_id, rj.rejected_id,
        |       s.mx AS chosen_cents, s.mn AS rejected_cents,
        |       s.mx - s.mn AS margin_cents
        |FROM s
        |JOIN ch ON s.user_id = ch.user_id
        |JOIN rj ON s.user_id = rj.user_id
        |WHERE s.n >= 2 AND s.mx - s.mn >= 20000
        |ORDER BY 1""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100, 0).cast("long").as("c"))
      e.groupBy("user_id")
        .agg(
          max(struct(col("c"), (-col("event_id")).as("nid"))).as("hi"),
          min(struct(col("c"), col("event_id"))).as("lo"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 2 && col("hi.c") - col("lo.c") >= 20000)
        .select(col("user_id"),
          (-col("hi.nid")).as("chosen_id"),
          col("lo.event_id").as("rejected_id"),
          col("hi.c").as("chosen_cents"),
          col("lo.c").as("rejected_cents"),
          (col("hi.c") - col("lo.c")).as("margin_cents"))
        .orderBy(col("user_id"))
    },

    // Token-budget corpus selection — rank every document by an integer
    // quality score (stopword hits per mille of tokens: running prose
    // scores high, noise scores 0) and take the greedy prefix whose
    // cumulative token count fits a global budget of half the corpus.
    // ntok ≥ 1 always (split of "" is [""]), so the running sum is
    // strictly increasing and "cum ≤ budget" IS a prefix — the classic
    // budgeted-selection semantics. The global running sum runs in the
    // q130 block-offset topology ([[Ranks.globalCumSum]]): the corpus is
    // reduced map-side to 4 small columns, range-partitioned on the
    // (score desc, doc_id) total order, prefix-summed per block in
    // parallel, and stitched with a broadcast ≤32-row block-total table —
    // no single-task global sort at any size. Output is the per-language
    // selection profile (what a mixture report reads), ≤|langs| rows.
    Q("q299_token_budget_select",
      s"""WITH sc AS (
        |  SELECT doc_id, lang, len(w) AS ntok,
        |         (len(list_filter(w, x -> list_contains($duckStopList, x)))
        |          * 1000) // len(w) AS score_milli
        |  FROM (SELECT doc_id, lang, ${TextOps.duckTokens} AS w FROM documents)),
        |b AS (SELECT sum(ntok) // 2 AS budget FROM sc),
        |c AS (
        |  SELECT lang, ntok,
        |         sum(ntok) OVER (ORDER BY score_milli DESC, doc_id) AS cum
        |  FROM sc)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sel,
        |       CAST(sum(ntok) AS BIGINT) AS tok_sel
        |FROM c, b WHERE cum <= budget
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val t = TextOps.tokens(col("text"))
      val sc = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), size(t).cast("long").as("ntok"),
          intDiv(stopHits(t) * 1000, size(t)).as("score_milli"))
      val budget = sc.agg(intDiv(sum(col("ntok")), lit(2)).as("budget"))
      Ranks.globalCumSum(sc, 32, col("ntok"),
          col("score_milli").desc, col("doc_id"))
        .crossJoin(broadcast(budget))
        .filter(col("cum") <= col("budget"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sel"), sum(col("ntok")).as("tok_sel"))
        .orderBy(col("lang"))
    },

    // Mixture water-filling — allocate a token budget (60% of the corpus)
    // across (source, lang) domains, each capped at its available token
    // count: every domain gets min(avail, L) where L is the LARGEST
    // integer level that fits the budget — the level-set allocation
    // behind mixture planning that can't over-draw a small domain (small
    // cells are consumed whole, the level rises to spend the remainder on
    // big ones). L comes from the standard sorted-availability scan: with
    // cells ordered by (avail, source, lang) and pre_i the exclusive
    // prefix sum, the first index where L_i = (budget − pre_i) div
    // (m − i + 1) fits STRICTLY under avail_i yields L = L_i. Strictness
    // matters: when L_i == avail_i with a nonzero remainder, cell i is
    // itself exhausted at that level and the true maximum sits at a later
    // index (avail {2,2,10} at budget 8: i=1 gives L=2/alloc 6, the real
    // answer is L=4/alloc 8) — and strictness never rejects the true
    // index i*, since for every j < i* the prefix bound gives
    // L_j ≥ avail_j. The i = m fallback makes the scan total on the
    // degenerate all-empty corpus (budget < Σavail holds whenever
    // Σavail > 0, so i = m strictly accepts on any real data). The
    // candidate numerator is clamped at 0 in BOTH engines so the
    // division never sees a negative operand — DuckDB `//` truncates
    // negatives while Ranks.intDiv floors (Ranks.scala), and the clamp
    // makes that divergence structurally unreachable instead of relying
    // on the accept-before-negative-zone invariant. (TrainingSpec
    // brute-forces max{L : Σ min(avail, L) ≤ budget} to pin optimality,
    // tie case included.)
    // The corpus reduces to ≤|sources|·|langs| rows in one
    // partial-aggregated scan; every window and join after that runs on
    // that broadcast-sized frame (PlanQualitySpec's global-window sweep
    // sees only post-aggregation frames here). All arithmetic is BIGINT
    // on nonnegative operands — identical floor division in both
    // engines; at 100 TB the only corpus-touching work is the one scan.
    Q("q300_mixture_waterfill",
      """WITH t AS (
        |  SELECT source, lang,
        |         len(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS ntok
        |  FROM documents),
        |d AS (SELECT source, lang, CAST(sum(ntok) AS BIGINT) AS avail
        |      FROM t GROUP BY 1, 2),
        |g AS (SELECT count(*) AS m, (sum(avail) * 3) // 5 AS budget FROM d),
        |o AS (
        |  SELECT source, lang, avail,
        |         row_number() OVER (ORDER BY avail, source, lang) AS i,
        |         coalesce(sum(avail) OVER (
        |           ORDER BY avail, source, lang
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS pre
        |  FROM d),
        |cand AS (
        |  SELECT i, greatest(0, budget - pre) // (m - i + 1) AS li
        |  FROM o, g
        |  WHERE greatest(0, budget - pre) // (m - i + 1) < avail OR i = m),
        |lvl AS (SELECT li AS level FROM cand ORDER BY i LIMIT 1)
        |SELECT source, lang, avail AS avail_tok,
        |       CAST(least(avail, level) AS BIGINT) AS alloc_tok,
        |       avail <= level AS exhausted
        |FROM o, lvl ORDER BY source, lang""".stripMargin) { (s, d) =>
      val av = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
        .groupBy(col("source"), col("lang")).agg(sum(col("ntok")).as("avail"))
      val g = av.agg(count(lit(1)).as("m"),
        intDiv(sum(col("avail")) * 3, lit(5)).as("budget"))
      val w = Window.orderBy(col("avail"), col("source"), col("lang"))
      val o = av
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("pre", coalesce(
          sum(col("avail")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .crossJoin(broadcast(g))
      val li = intDiv(greatest(lit(0L), col("budget") - col("pre")),
        col("m") - col("i") + 1)
      val lvl = o.withColumn("li", li)
        .filter(col("li") < col("avail") || col("i") === col("m"))
        .orderBy(col("i")).limit(1)
        .select(col("li").as("level"))
      o.crossJoin(broadcast(lvl))
        .select(col("source"), col("lang"), col("avail").as("avail_tok"),
          least(col("avail"), col("level")).as("alloc_tok"),
          (col("avail") <= col("level")).as("exhausted"))
        .orderBy(col("source"), col("lang"))
    },

    // Largest-remainder (Hamilton) apportionment of an exact sample
    // budget across strata — the "sample exactly n docs, proportionally
    // by source" planning step where floats are unacceptable because the
    // per-stratum counts must sum to EXACTLY n: base_s = floor(n·cnt_s/N)
    // underfills by k = n − Σ base_s < m units, and the k largest
    // remainders (tie-break source asc) each take one extra. The quota
    // product n·cnt_s multiplies two SF-scaling quantities, so it forms
    // in DECIMAL(38,0)/HUGEINT per the repo overflow rule (BENCH_NOTES
    // audit table) — BIGINT would overflow near 3e9 docs at a 10%
    // budget; base/rem drop back to BIGINT (both < N). One
    // partial-aggregated corpus scan to ≤|sources| rows; the remainder
    // ranking is a bounded global window over that aggregate. Exact
    // integer arithmetic end-to-end in both engines; TrainingSpec pins
    // Σ alloc = n and the Hamilton optimality (no transfer of one unit
    // can reduce any |alloc_s − n·cnt_s/N|).
    Q("q301_sample_apportion",
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1),
        |g AS (SELECT sum(cnt) AS nn, sum(cnt) // 10 AS n FROM c),
        |q AS (
        |  SELECT source, cnt,
        |         (CAST(n AS HUGEINT) * cnt) // nn AS base,
        |         (CAST(n AS HUGEINT) * cnt) % nn AS rem
        |  FROM c, g),
        |r AS (
        |  SELECT source, cnt, CAST(base AS BIGINT) AS base,
        |         row_number() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM q),
        |k AS (SELECT n - sum(base) AS extra FROM r, g GROUP BY n)
        |SELECT source, cnt AS n_docs,
        |       base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS alloc,
        |       rk <= extra AS got_extra
        |FROM r, k ORDER BY source""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val g = c.agg(sum(col("cnt")).as("nn"),
        intDiv(sum(col("cnt")), lit(10)).as("n"))
      // quota in DECIMAL(38,0): 19+19+1 digits clamp inside 38 exactly
      val quota = col("n").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)")
      val q = c.crossJoin(broadcast(g))
        .withColumn("base", intDiv(quota, dec(col("nn"))))
        .withColumn("rem", pmod(quota, dec(col("nn"))))
      val r = q.withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("source")))
          .cast("long"))
      val k = r.agg((max(col("n")) - sum(col("base"))).as("extra"))
      r.crossJoin(broadcast(k))
        .select(col("source"), col("cnt").as("n_docs"),
          (col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
            .as("alloc"),
          (col("rk") <= col("extra")).as("got_extra"))
        .orderBy(col("source"))
    },

    // Smooth weighted round-robin epoch interleave — the deterministic
    // "spread each source evenly through the epoch" ordering a training
    // run consumes: doc j of a source with n_s docs targets ideal slot
    // (2j−1)·N div (2·n_s) (the integer form of (j−½)·N/n_s), and the
    // epoch order is the total order (slot, source, j). The slot product
    // multiplies two SF-scaling quantities → DECIMAL(38,0)/HUGEINT (the
    // q301 rule); the slot value itself is < N and drops back to BIGINT.
    // Global positions come from [[Ranks.globalIndex]] — range-partition
    // + per-block rank + broadcast block offsets, no single-task sort.
    // Emitted per source: position span and the min/max inter-position
    // gap, whose tightness around N/n_s is the evenness guarantee
    // (TrainingSpec recomputes the whole ordering driver-side and pins
    // every gap; the oracle recomputes it in SQL for the FULL hash).
    Q("q302_epoch_interleave",
      """WITH c AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |           AS j
        |  FROM documents),
        |g AS (SELECT count(*) AS nn FROM c),
        |ns AS (SELECT source, count(*) AS n_s FROM c GROUP BY 1),
        |sl AS (
        |  SELECT c.doc_id, c.source, c.j,
        |         CAST(((2 * CAST(c.j AS HUGEINT) - 1) * nn)
        |              // (2 * ns.n_s) AS BIGINT) AS slot
        |  FROM c JOIN ns ON c.source = ns.source CROSS JOIN g),
        |p AS (
        |  SELECT source,
        |         row_number() OVER (ORDER BY slot, source, j) AS pos
        |  FROM sl),
        |d AS (
        |  SELECT source, pos,
        |         pos - lag(pos) OVER (PARTITION BY source ORDER BY pos)
        |           AS gap
        |  FROM p)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(pos) AS first_pos, max(pos) AS last_pos,
        |       min(gap) AS min_gap, max(gap) AS max_gap
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val c = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("j", row_number().over(wSrc).cast("long"))
      val g = c.agg(count(lit(1)).as("nn"))
      val ns = c.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val num = (lit(2).cast("decimal(19,0)") * col("j").cast("decimal(19,0)")
        - 1) * col("nn").cast("decimal(19,0)")
      val den = (lit(2) * col("n_s")).cast("decimal(19,0)")
      val sl = c.join(broadcast(ns), "source").crossJoin(broadcast(g))
        .withColumn("slot", intDiv(num, den))
        .select(col("doc_id"), col("source"), col("j"), col("slot"))
      val p = Ranks.globalIndex(sl, 32, col("slot"), col("source"), col("j"))
        .withColumnRenamed("idx", "pos")
      val wGap = Window.partitionBy(col("source")).orderBy(col("pos"))
      p.withColumn("gap", col("pos") - lag(col("pos"), 1).over(wGap))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"),
          min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
        .orderBy(col("source"))
    },

    // Competence-based curriculum pacing plan (Platanios et al. 2019,
    // linear competence): rank every document by a difficulty proxy
    // (token count asc — short docs first, tie-break doc_id) and admit
    // the easiest c(e) = e/E fraction at epoch e of E=5, so a document
    // at difficulty rank r first becomes trainable at epoch
    // ⌈r·E/N⌉ = (r·E + N − 1) div N — exact integer, nonnegative
    // operands, identical floor division in both engines. The global
    // difficulty rank uses [[Ranks.globalIndex]] (range-partition +
    // per-block rank + broadcast block offsets — no single-task sort);
    // r·E scales linearly with SF (E is the constant 5), so BIGINT has
    // ~5e17 headroom and no DECIMAL promotion is needed. Output is the
    // pacing schedule a trainer reads: per (first_epoch, source) doc and
    // token counts plus the rank span — ≤ E·|sources| rows.
    Q("q303_curriculum_pacing",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS ntok
        |  FROM documents),
        |g AS (SELECT count(*) AS nn FROM t),
        |r AS (
        |  SELECT source, ntok,
        |         row_number() OVER (ORDER BY ntok, doc_id) AS r
        |  FROM t),
        |e AS (
        |  SELECT source, ntok, r, (r * 5 + nn - 1) // nn AS first_epoch
        |  FROM r, g)
        |SELECT first_epoch, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(ntok) AS BIGINT) AS tok,
        |       min(r) AS min_rank, max(r) AS max_rank
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val sc = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
      val g = sc.agg(count(lit(1)).as("nn"))
      Ranks.globalIndex(sc, 32, col("ntok"), col("doc_id"))
        .crossJoin(broadcast(g))
        .withColumn("first_epoch",
          intDiv(col("idx") * 5 + col("nn") - 1, col("nn")))
        .groupBy(col("first_epoch"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok"),
          min(col("idx")).as("min_rank"), max(col("idx")).as("max_rank"))
        .orderBy(col("first_epoch"), col("source"))
    },

    // Cohen's kappa inter-rater agreement — the label-quality audit a
    // weak-supervision pipeline runs before trusting a heuristic
    // annotator: rater A is the stored lang tag (= 'en'), rater B the
    // q28-family en-stopword-density heuristic (≥ 60‰ of tokens). One
    // conditional-CASE partial-aggregated scan reduces the corpus to the
    // four confusion cells; ALL chance-correction arithmetic runs on
    // that single row. κ = (n·agree − pe_num)/(n² − pe_num) with
    // pe_num = rowA·colB + rowĀ·colB̄ multiplies SF-scaling counts (n²
    // passes 2⁶³ near 3e9 docs), so every product forms in
    // DECIMAL(38,0)/HUGEINT per the overflow rule. Nothing float crosses
    // the engine boundary: κ is shifted to the nonnegative κ+1 ∈ [0,2]
    // and emitted as exact floor millionths ((n·agree + n² − 2·pe_num)
    // ·10⁶ div (n² − pe_num)), alongside exact p_o/p_e millionths —
    // floor on nonnegative operands is identical in both engines
    // (TrainingSpec recomputes κ from the raw cells driver-side).
    Q("q304_kappa_agreement",
      s"""WITH t AS (
        |  SELECT (lang = 'en') AS a,
        |         (len(list_filter(w, x -> list_contains($duckStopList, x)))
        |          * 1000) // len(w) >= 60 AS b
        |  FROM (SELECT lang, ${TextOps.duckTokens} AS w FROM documents)),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS tt,
        |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS tf,
        |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS ft,
        |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS ff
        |  FROM t),
        |m AS (
        |  SELECT tt, tf, ft, ff,
        |         CAST(tt + tf + ft + ff AS HUGEINT) AS n,
        |         CAST(tt + ff AS HUGEINT) AS agree,
        |         CAST(tt + tf AS HUGEINT) * (tt + ft)
        |           + CAST(ft + ff AS HUGEINT) * (tf + ff) AS pe_num
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n,
        |       CAST(tt AS BIGINT) AS tt, CAST(tf AS BIGINT) AS tf,
        |       CAST(ft AS BIGINT) AS ft, CAST(ff AS BIGINT) AS ff,
        |       CAST(agree * 1000000 // n AS BIGINT) AS po_micro,
        |       CAST(pe_num * 1000000 // (n * n) AS BIGINT) AS pe_micro,
        |       CAST(CASE WHEN n * n = pe_num THEN NULL
        |            ELSE (n * agree + n * n - 2 * pe_num) * 1000000
        |                 // (n * n - pe_num) END AS BIGINT)
        |         AS kappa_p1_micro
        |FROM m""".stripMargin) { (s, d) =>
      val t = TextOps.tokens(col("text"))
      val lab = Tables.documents(s, d)
        .select((col("lang") === "en").as("a"),
          (intDiv(stopHits(t) * 1000, size(t)) >= 60).as("b"))
      val cell = (p: Column) => sum(when(p, 1L).otherwise(0L))
      val c = lab.agg(
        cell(col("a") && col("b")).as("tt"),
        cell(col("a") && !col("b")).as("tf"),
        cell(!col("a") && col("b")).as("ft"),
        cell(!col("a") && !col("b")).as("ff"))
      val m = c.select(col("tt"), col("tf"), col("ft"), col("ff"),
        dec(col("tt") + col("tf") + col("ft") + col("ff")).as("n"),
        dec(col("tt") + col("ff")).as("agree"),
        (dec(col("tt") + col("tf")) * dec(col("tt") + col("ft"))
          + dec(col("ft") + col("ff")) * dec(col("tf") + col("ff")))
          .as("pe_num"))
      m.select(col("n").cast("long").as("n"),
          col("tt"), col("tf"), col("ft"), col("ff"),
          intDiv(col("agree") * 1000000, col("n")).as("po_micro"),
          intDiv(col("pe_num") * 1000000, col("n") * col("n")).as("pe_micro"),
          when(col("n") * col("n") === col("pe_num"), lit(null))
            .otherwise(intDiv(
              (col("n") * col("agree") + col("n") * col("n")
                - lit(2) * col("pe_num")) * 1000000,
              col("n") * col("n") - col("pe_num")))
            .cast("long").as("kappa_p1_micro"))
    },

    // Per-source token-distribution divergence from the corpus — the
    // content-drift signal mixture planning reads next to q294's shingle
    // novelty: total-variation distance TVD_s = ½·Σ_t |c_s(t)/N_s −
    // C(t)/N| between each source's unigram distribution and the whole
    // corpus's. The absent-token tail never materializes: Σ_{t∉s} C(t)
    // = N − Σ_{t∈s} C(t), so one (source,token)-level aggregate, a
    // vocabulary-keyed join to the corpus counts, and a per-source
    // reduce cover the exact sum — corpus text is exploded once and
    // never reshuffled past the token reduction (the q70/q135 posting
    // topology). Cross-products c_s(t)·N and C(t)·N_s multiply two
    // SF-scaling token counts (~1e26 at 100 TB) → DECIMAL(38,0)/HUGEINT
    // throughout; the boundary output is exact floor millionths of the
    // [0,1] TVD (nonnegative operands, identical in both engines).
    Q("q305_source_token_tvd",
      """WITH tk AS (
        |  SELECT source,
        |         unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'))
        |           AS token
        |  FROM documents),
        |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |       FROM tk GROUP BY 1, 2),
        |v AS (SELECT token, sum(c) AS ct FROM st GROUP BY 1),
        |s AS (SELECT source, sum(c) AS n_s, count(*) AS n_types
        |      FROM st GROUP BY 1),
        |g AS (SELECT sum(c) AS nn FROM st),
        |p AS (
        |  SELECT st.source,
        |         sum(abs(CAST(st.c AS HUGEINT) * nn
        |                 - CAST(v.ct AS HUGEINT) * s.n_s)) AS num_pres,
        |         sum(v.ct) AS pres_ct
        |  FROM st JOIN v USING (token)
        |       JOIN s ON st.source = s.source CROSS JOIN g
        |  GROUP BY st.source, nn)
        |SELECT s.source, CAST(s.n_s AS BIGINT) AS n_tok,
        |       CAST(s.n_types AS BIGINT) AS n_types,
        |       CAST(((p.num_pres + CAST(nn - p.pres_ct AS HUGEINT) * s.n_s)
        |             * 1000000) // (2 * CAST(s.n_s AS HUGEINT) * nn)
        |         AS BIGINT) AS tvd_micro
        |FROM p JOIN s ON p.source = s.source CROSS JOIN g
        |ORDER BY 1""".stripMargin) { (s, d) =>
      val st = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
        // ckpt(a): q305 three consumers; lazy 1.5× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val v = st.groupBy(col("token")).agg(sum(col("c")).as("ct"))
      val tot = st.groupBy(col("source"))
        .agg(sum(col("c")).as("n_s"), count(lit(1)).as("n_types"))
      val g = st.agg(sum(col("c")).as("nn"))
      val p = st.join(v, "token")
        .join(broadcast(tot.select(col("source"), col("n_s"))), "source")
        .crossJoin(broadcast(g))
        .groupBy(col("source"), col("nn"))
        .agg(sum(abs(dec(col("c")) * dec(col("nn"))
            - dec(col("ct")) * dec(col("n_s")))).as("num_pres"),
          sum(col("ct")).as("pres_ct"))
      p.join(broadcast(tot), "source")
        .select(col("source"), col("n_s").as("n_tok"), col("n_types"),
          intDiv((col("num_pres")
              + dec(col("nn") - col("pres_ct")) * dec(col("n_s"))) * 1000000,
            lit(2) * dec(col("n_s")) * dec(col("nn"))).as("tvd_micro"))
        .orderBy(col("source"))
    },

    // Vocabulary-truncation coverage — the tokenizer-sizing table next
    // to q291's Heaps fit and q225's Zipf fit: at vocab cutoffs k ∈
    // {100, 1000, 10000}, what fraction of the corpus TOKEN MASS do the
    // top-k types cover, and what OOV mass falls outside? Types rank by
    // (count desc, token) — a TOTAL order — through [[Ranks.globalIndex]]
    // (range-partitioned vocabulary, per-block ranks, ≤32-row offset
    // broadcast); covered mass then falls out of the CASE sums over the
    // rank. The corpus reduces to the vocabulary in
    // one explode+partial-agg pass and is never touched again; the
    // cutoff sweep is a conditional aggregation over the ranked
    // vocabulary (3 CASE sums, one scan) reshaped through a 3-row
    // spine. Coverage crosses the boundary as exact floor millionths.
    Q("q306_vocab_truncation",
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'))
        |           AS token
        |  FROM documents),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS ct
        |      FROM tk GROUP BY 1),
        |r AS (
        |  SELECT ct, row_number() OVER (ORDER BY ct DESC, token) AS rk
        |  FROM v),
        |g AS (SELECT sum(ct) AS total, count(*) AS n_types FROM v),
        |ks AS (SELECT * FROM (VALUES (100), (1000), (10000)) t(k)),
        |c AS (
        |  SELECT k, sum(CASE WHEN rk <= k THEN ct ELSE 0 END) AS covered
        |  FROM r CROSS JOIN ks GROUP BY 1)
        |SELECT k, least(CAST(k AS BIGINT), n_types) AS kept_types,
        |       CAST(covered AS BIGINT) AS covered_tok,
        |       CAST(total - covered AS BIGINT) AS oov_tok,
        |       CAST(CAST(covered AS HUGEINT) * 1000000 // total AS BIGINT)
        |         AS coverage_micro
        |FROM c CROSS JOIN g ORDER BY k""".stripMargin) { (s, d) =>
      val v = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("ct"))
      val r = Ranks.globalIndex(v, 32, col("ct").desc, col("token"))
      val ks = Seq(100, 1000, 10000)
      val aggCols = Seq(
        sum(col("ct")).as("total"), count(lit(1)).as("n_types")) ++
        ks.map(k => sum(when(col("idx") <= k, col("ct")).otherwise(0L))
          .as(s"cov_$k"))
      val agg = r.agg(aggCols.head, aggCols.tail: _*)
      val spine = s.range(1)
        .select(explode(array(ks.map(k => lit(k)): _*)).as("k"))
      spine.crossJoin(broadcast(agg))
        .withColumn("covered",
          ks.tail.foldLeft(when(col("k") === ks.head, col(s"cov_${ks.head}")))(
            (acc, k) => acc.when(col("k") === k, col(s"cov_$k"))))
        .select(col("k"),
          least(col("k").cast("long"), col("n_types")).as("kept_types"),
          col("covered").as("covered_tok"),
          (col("total") - col("covered")).as("oov_tok"),
          intDiv(dec(col("covered")) * dec(lit(1000000L)), dec(col("total")))
            .as("coverage_micro"))
        .orderBy(col("k"))
    },

    // Context-length packing-efficiency forecast — the planning table
    // that picks a training context length: at L ∈ {128, 512, 2048},
    // one-doc-per-sequence training keeps min(ntok, L), truncates the
    // overflow, and pads the shortfall, while ideal packing needs only
    // ⌈Σntok/L⌉ sequences (q102 builds the actual packed shards; this
    // forecasts the cost of NOT packing). One corpus scan produces the
    // per-doc token counts; the 3-row L spine fans out map-side and
    // partial-aggregates straight back to 3 rows — no shuffle touches
    // corpus-sized data after the scan. naive_util = kept/(n_docs·L) and
    // trunc share cross the boundary as exact floor millionths (n_docs·L
    // is SF-scaling × constant — BIGINT per the overflow rule).
    Q("q307_packing_forecast",
      """WITH t AS (
        |  SELECT len(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS ntok
        |  FROM documents),
        |ls AS (SELECT * FROM (VALUES (128), (512), (2048)) v(l)),
        |p AS (
        |  SELECT l, count(*) AS n_docs,
        |         CAST(sum(ntok) AS BIGINT) AS tok_total,
        |         CAST(sum(CASE WHEN ntok > l THEN ntok - l ELSE 0 END)
        |           AS BIGINT) AS tok_trunc,
        |         CAST(sum(CASE WHEN ntok < l THEN l - ntok ELSE 0 END)
        |           AS BIGINT) AS pad_tok,
        |         CAST(sum(CASE WHEN ntok > l THEN 1 ELSE 0 END) AS BIGINT)
        |           AS trunc_docs
        |  FROM t CROSS JOIN ls GROUP BY 1)
        |SELECT l, CAST(n_docs AS BIGINT) AS n_docs, tok_total, tok_trunc,
        |       pad_tok, trunc_docs,
        |       (tok_total + l - 1) // l AS packed_seqs_lb,
        |       CAST(CAST(tok_total - tok_trunc AS HUGEINT) * 1000000
        |         // (CAST(n_docs AS HUGEINT) * l) AS BIGINT)
        |         AS naive_util_micro,
        |       CAST(CAST(tok_trunc AS HUGEINT) * 1000000 // tok_total
        |         AS BIGINT) AS trunc_share_micro
        |FROM p ORDER BY l""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
      val ls = s.range(1).select(
        explode(array(lit(128), lit(512), lit(2048))).as("l"))
      t.crossJoin(broadcast(ls))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("tok_total"),
          sum(when(col("ntok") > col("l"), col("ntok") - col("l"))
            .otherwise(0L)).as("tok_trunc"),
          sum(when(col("ntok") < col("l"), col("l") - col("ntok"))
            .otherwise(0L)).as("pad_tok"),
          sum(when(col("ntok") > col("l"), 1L).otherwise(0L))
            .as("trunc_docs"))
        .select(col("l"), col("n_docs"), col("tok_total"), col("tok_trunc"),
          col("pad_tok"), col("trunc_docs"),
          intDiv(col("tok_total") + col("l") - 1, col("l"))
            .as("packed_seqs_lb"),
          intDiv((dec(col("tok_total")) - dec(col("tok_trunc"))) *
            dec(lit(1000000L)),
            dec(col("n_docs")) * dec(col("l"))).as("naive_util_micro"),
          intDiv(dec(col("tok_trunc")) * dec(lit(1000000L)),
            dec(col("tok_total"))).as("trunc_share_micro"))
        .orderBy(col("l"))
    },

    // Intra-corpus 8-gram duplication mass — the memorization-risk panel
    // per source: of each source's 8-token n-gram OCCURRENCES, how many
    // belong to a gram seen more than once anywhere in the corpus?
    // (Distinct from q292's doc-pair Jaccard matrix and q294's vs-benchmark
    // novelty: this measures raw repeated-substring mass, the quantity
    // verbatim-memorization studies threshold on.) Occurrences, not
    // per-doc-distinct shingles: a doc that repeats its own boilerplate
    // contributes each repeat. Scale shape: the corpus explodes to grams
    // ONCE, hashed to 64 bits map-side (xxhash64) so the two exchanges
    // move 8-byte keys instead of ~50-byte strings; the (gram, source)
    // reduce partial-aggregates map-side, the gram-total reduce runs on
    // the already-reduced frame, and the totals join is key-co-partitioned
    // (both sides hash-partitioned by gram — AQE reuses the exchange).
    // Collision caveat, quantified: the oracle groups raw gram strings;
    // xxhash64 collisions would diverge at P ≈ n²/2⁶⁵ — immaterial at
    // verify SFs (≤1e6 grams → <1e-6) and the accepted industry trade at
    // corpus scale. dup_mass×1e6 is a product of an SF-scaling quantity
    // and 1e6 → DECIMAL(38,0)/HUGEINT per the overflow rule.
    Q("q308_ngram_dup_mass",
      """WITH t AS (
        |  SELECT source, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |         unnest(list_transform(range(1, len(w) - 6),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
        |                     || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
        |                     || ' ' || w[i+6] || ' ' || w[i+7])) AS gram
        |  FROM t WHERE len(w) >= 8),
        |sg AS (SELECT source, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT gram, sum(c) AS tc FROM sg GROUP BY 1)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n_grams,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(sum(CASE WHEN tc > 1 THEN c ELSE 0 END) AS BIGINT)
        |         AS dup_mass,
        |       CAST(CAST(sum(CASE WHEN tc > 1 THEN c ELSE 0 END) AS HUGEINT)
        |         * 1000000 // sum(c) AS BIGINT) AS dup_share_micro
        |FROM sg JOIN tot USING (gram)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // short-doc guard as a CASE inside the gram projection, not a
      // filter: predicate pushdown substitutes the alias into
      // filter(size(w) >= 8), tokenizing the whole corpus twice (the
      // q317 find; this scan is the entire cost of the query)
      // ... and xxhash64 over the eight tokens directly (seed-chained
      // varargs) rather than array_join-ing a gram string per window —
      // tens of millions of string builds at sf3 for hash input only
      val g = Tables.documents(s, d)
        .select(col("source"), TextOps.tokens(col("text")).as("w"))
        .select(col("source"), explode(expr(
          "CASE WHEN size(w) >= 8 THEN transform(sequence(1, size(w) - 7), " +
            "i -> xxhash64(element_at(w, i), element_at(w, i + 1), " +
            "element_at(w, i + 2), element_at(w, i + 3), " +
            "element_at(w, i + 4), element_at(w, i + 5), " +
            "element_at(w, i + 6), element_at(w, i + 7))) " +
            "ELSE CAST(array() AS ARRAY<BIGINT>) END")).as("g"))
      val sg = g.groupBy(col("g"), col("source"))
        .agg(count(lit(1)).as("c"))
      val tot = sg.groupBy(col("g")).agg(sum(col("c")).as("tc"))
      sg.join(tot, "g")
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("tc") > 1, col("c")).otherwise(0L)).as("dup_mass"))
        .select(col("source"), col("n_grams"), col("n_distinct"),
          col("dup_mass"),
          intDiv(dec(col("dup_mass")) * dec(lit(1000000L)),
            dec(col("n_grams"))).as("dup_share_micro"))
        .orderBy(col("source"))
    },

    // Quality-filter funnel with FIRST-failing-rule attribution — the
    // report a curation team reads to order its rules (Gopher/C4-style):
    // each doc is charged to the FIRST rule it fails in the pipeline
    // order (so n_fail_first sums to total drops with no double count),
    // alongside each rule's unordered n_fail_any (what the rule would
    // catch alone) and the survivor count after each stage. Rules are
    // pure integer comparisons on three per-doc signals from ONE scan
    // (token count, distinct-token count, stopword hits) — thresholds
    // chosen against the testdata distribution so every rule fires:
    // too_short nt<20 (~p10), low_stopword density <3% (~p15),
    // high_repetition distinct ratio <33% (~p20), too_long nt>90 (~p90).
    // Scale shape: the corpus never shuffles — map-side conditional
    // arithmetic partial-aggregates straight to ONE row, and the 4-row
    // rule spine fans the row out driver-side. drop-share ×1e6 stays in
    // BIGINT: n_fail ≤ n_docs ≈ 2.5e10 at 100 TB → ×1e6 = 2.5e16, 370×
    // inside 2⁶³ (constant multiplier, not an SF×SF product).
    Q("q309_quality_funnel",
      s"""WITH t AS (
        |  SELECT ${TextOps.duckTokens} AS w FROM documents),
        |s AS (
        |  SELECT len(w) AS nt, len(list_distinct(w)) AS nd,
        |         len(list_filter(w, x -> list_contains($duckStopList, x)))
        |           AS sh
        |  FROM t),
        |f AS (
        |  SELECT nt, nd, sh,
        |         CASE WHEN nt < 20 THEN 1
        |              WHEN sh * 100 < nt * 3 THEN 2
        |              WHEN nd * 100 < nt * 33 THEN 3
        |              WHEN nt > 90 THEN 4 ELSE 0 END AS ff
        |  FROM s),
        |a AS (
        |  SELECT count(*) AS n,
        |         sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS ff1,
        |         sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS ff2,
        |         sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS ff3,
        |         sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS ff4,
        |         sum(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS fa1,
        |         sum(CASE WHEN sh * 100 < nt * 3 THEN 1 ELSE 0 END) AS fa2,
        |         sum(CASE WHEN nd * 100 < nt * 33 THEN 1 ELSE 0 END) AS fa3,
        |         sum(CASE WHEN nt > 90 THEN 1 ELSE 0 END) AS fa4
        |  FROM f),
        |ks AS (SELECT * FROM (VALUES (1, 'too_short'), (2, 'low_stopword'),
        |       (3, 'high_repetition'), (4, 'too_long')) v(k, rule))
        |SELECT k, rule,
        |       CAST(CASE k WHEN 1 THEN ff1 WHEN 2 THEN ff2
        |                   WHEN 3 THEN ff3 ELSE ff4 END AS BIGINT)
        |         AS n_fail_first,
        |       CAST(CASE k WHEN 1 THEN fa1 WHEN 2 THEN fa2
        |                   WHEN 3 THEN fa3 ELSE fa4 END AS BIGINT)
        |         AS n_fail_any,
        |       CAST(n - CASE k WHEN 1 THEN ff1 WHEN 2 THEN ff1 + ff2
        |                       WHEN 3 THEN ff1 + ff2 + ff3
        |                       ELSE ff1 + ff2 + ff3 + ff4 END AS BIGINT)
        |         AS survivors_after,
        |       CAST(CASE k WHEN 1 THEN ff1 WHEN 2 THEN ff2
        |                   WHEN 3 THEN ff3 ELSE ff4 END
        |         * 1000000 // n AS BIGINT) AS drop_share_micro
        |FROM ks CROSS JOIN a ORDER BY k""".stripMargin) { (s, d) =>
      val sig = Tables.documents(s, d)
        .select(TextOps.tokens(col("text")).as("w"))
        .select(size(col("w")).cast("long").as("nt"),
          size(array_distinct(col("w"))).cast("long").as("nd"),
          stopHits(col("w")).as("sh"))
      val ff = when(col("nt") < 20, 1)
        .when(col("sh") * 100 < col("nt") * 3, 2)
        .when(col("nd") * 100 < col("nt") * 33, 3)
        .when(col("nt") > 90, 4).otherwise(0)
      val aggCols = Seq(count(lit(1)).as("n")) ++
        (1 to 4).map(k => sum(when(ff === k, 1L).otherwise(0L)).as(s"ff$k")) ++
        Seq(sum(when(col("nt") < 20, 1L).otherwise(0L)).as("fa1"),
          sum(when(col("sh") * 100 < col("nt") * 3, 1L).otherwise(0L))
            .as("fa2"),
          sum(when(col("nd") * 100 < col("nt") * 33, 1L).otherwise(0L))
            .as("fa3"),
          sum(when(col("nt") > 90, 1L).otherwise(0L)).as("fa4"))
      val a = sig.agg(aggCols.head, aggCols.tail: _*)
      val rules = Seq(1 -> "too_short", 2 -> "low_stopword",
        3 -> "high_repetition", 4 -> "too_long")
      val spine = s.range(1).select(explode(array(rules.map { case (k, r) =>
        struct(lit(k).as("k"), lit(r).as("rule")) }: _*)).as("kr"))
        .select(col("kr.k").as("k"), col("kr.rule").as("rule"))
      def byK(c: Int => Column): Column =
        rules.tail.foldLeft(when(col("k") === rules.head._1, c(rules.head._1)))(
          (acc, kr) => acc.when(col("k") === kr._1, c(kr._1)))
      spine.crossJoin(broadcast(a))
        .select(col("k"), col("rule"),
          byK(k => col(s"ff$k")).as("n_fail_first"),
          byK(k => col(s"fa$k")).as("n_fail_any"),
          byK(k => (1 to k).map(j => col(s"ff$j"))
            .foldLeft(col("n"))(_ - _)).as("survivors_after"),
          intDiv(byK(k => col(s"ff$k")) * 1000000L, col("n"))
            .as("drop_share_micro"))
        .orderBy(col("k"))
    },

    // Hash-shard skew forecast — the write-layout planning table for a
    // training corpus: if the corpus shards by a hash of doc_id into
    // S ∈ {16, 256, 4096} files, how even is the TOKEN mass per shard?
    // imbalance = max_shard_mass · S / total (1e6 micro = perfect), the
    // number a data-loader team reads before picking S (a skewed shard is
    // the straggler every epoch). Shard key = leading hex chars of
    // md5(doc_id) — the repo's split convention (q137/q239), identical in
    // both engines. Scale shape: ONE corpus scan reduces map-side to the
    // ≤4096 finest-granularity shard masses; the coarser S values ROLL UP
    // from that 4096-row frame by prefix truncation — the corpus is never
    // re-scanned or re-shuffled per S. All mass arithmetic is integer;
    // max·S·1e6 multiplies two SF-scaling-adjacent magnitudes →
    // DECIMAL(38,0)/HUGEINT per the overflow rule.
    Q("q311_shard_skew",
      """WITH t AS (
        |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) AS h3,
        |         len(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS ntok
        |  FROM documents),
        |g3 AS (SELECT h3, CAST(sum(ntok) AS BIGINT) AS mass
        |       FROM t GROUP BY 1),
        |ks AS (SELECT * FROM (VALUES (16, 1), (256, 2), (4096, 3)) v(s, p)),
        |r AS (SELECT ks.s, substr(g3.h3, 1, ks.p) AS shard,
        |             sum(mass) AS mass
        |      FROM g3 CROSS JOIN ks GROUP BY 1, 2)
        |SELECT s AS n_shards,
        |       CAST(count(*) AS BIGINT) AS n_used,
        |       CAST(max(mass) AS BIGINT) AS max_mass,
        |       CAST(min(mass) AS BIGINT) AS min_mass,
        |       CAST(sum(mass) AS BIGINT) AS total_mass,
        |       CAST(CAST(max(mass) AS HUGEINT) * s * 1000000 // sum(mass)
        |         AS BIGINT) AS imbalance_micro
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val g3 = Tables.documents(s, d)
        .select(
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 3)
            .as("h3"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
        .groupBy(col("h3")).agg(sum(col("ntok")).as("mass"))
      val perS = Seq(16 -> 1, 256 -> 2, 4096 -> 3).map { case (ns, p) =>
        g3.groupBy(substring(col("h3"), 1, p).as("shard"))
          .agg(sum(col("mass")).as("mass"))
          .agg(lit(ns).as("n_shards"),
            count(lit(1)).as("n_used"),
            max(col("mass")).as("max_mass"),
            min(col("mass")).as("min_mass"),
            sum(col("mass")).as("total_mass"))
      }
      perS.reduce(_ unionAll _)
        .select(col("n_shards"), col("n_used"), col("max_mass"),
          col("min_mass"), col("total_mass"),
          intDiv(dec(col("max_mass")) * dec(col("n_shards")) *
            dec(lit(1000000L)), dec(col("total_mass")))
            .as("imbalance_micro"))
        .orderBy(col("n_shards"))
    },

    // Good-Turing unseen-mass estimate — the coverage number next to
    // q291's Heaps fit and q306's truncation table: per source, the
    // Good-Turing probability mass of UNSEEN tokens P₀ ≈ N₁/N (hapax
    // count over token mass), plus the hapax share of the vocabulary —
    // how much of each source's distribution a model trained on it has
    // literally never seen twice. Pure integer end-to-end: N, V, N₁, N₂
    // are exact counts from one (source, token) reduction (map-side
    // partial combine; the corpus never reshuffles after it), and both
    // shares cross the boundary as exact floor millionths. N₁·1e6 at
    // 100 TB ≈ 1e12·1e6 = 1e18 — inside BIGINT but with <10× headroom,
    // so promoted to DECIMAL(38,0)/HUGEINT per the overflow rule.
    Q("q312_good_turing",
      """WITH tk AS (
        |  SELECT source,
        |         unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'))
        |           AS token
        |  FROM documents),
        |v AS (SELECT source, token, CAST(count(*) AS BIGINT) AS ct
        |      FROM tk GROUP BY 1, 2)
        |SELECT source,
        |       CAST(sum(ct) AS BIGINT) AS n_tok,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n1,
        |       CAST(sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n2,
        |       CAST(CAST(sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |         * 1000000 // sum(ct) AS BIGINT) AS unseen_mass_micro,
        |       CAST(CAST(sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |         * 1000000 // count(*) AS BIGINT) AS hapax_share_micro
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("ct"))
        .groupBy(col("source"))
        .agg(sum(col("ct")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(when(col("ct") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("ct") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("n_tok"), col("n_types"), col("n1"),
          col("n2"),
          intDiv(dec(col("n1")) * dec(lit(1000000L)), dec(col("n_tok")))
            .as("unseen_mass_micro"),
          intDiv(dec(col("n1")) * dec(lit(1000000L)), dec(col("n_types")))
            .as("hapax_share_micro"))
        .orderBy(col("source"))
    },

    // Join-skew salting plan — the mitigation table next to q85 (heavy-
    // hitter DETECTION) and q266 (join-size estimation): for candidate
    // per-task row targets T ∈ {100, 250, 1000} on the lineitem supplier
    // key, the exact cost of salting every key k into ⌈c_k/T⌉ virtual
    // partitions — total virtual-partition count, the worst key's salt
    // factor, the key-expansion ratio, and the heaviest key's share of
    // all rows (the straggler bound salting removes). The numbers an
    // engineer reads before setting a skew-join salt width or trusting
    // AQE's skewedPartitionFactor. Scale shape: ONE key reduce with
    // map-side combine to |keys| rows; the 3-T sweep is conditional
    // aggregation over that reduced frame (map-side fan-out, 3 output
    // rows). Ceil division spelled (c+T−1)//T on nonnegative operands —
    // identical in both engines; n_virtual·1e6 ≤ |keys|·1e6 stays inside
    // BIGINT with ≥1e3 headroom at 100 TB, per-key products never form.
    Q("q313_salt_plan",
      """WITH c AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS ct
        |  FROM lineitem GROUP BY 1),
        |ts AS (SELECT * FROM (VALUES (100), (250), (1000)) v(t))
        |SELECT t AS t_target,
        |       CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(ct) AS BIGINT) AS n_rows,
        |       CAST(sum((ct + t - 1) // t) AS BIGINT) AS n_virtual,
        |       CAST(max((ct + t - 1) // t) AS BIGINT) AS max_factor,
        |       CAST(sum((ct + t - 1) // t) * 1000000 // count(*) AS BIGINT)
        |         AS expand_micro,
        |       CAST(max(ct) * 1000000 // sum(ct) AS BIGINT)
        |         AS top_key_share_micro
        |FROM c CROSS JOIN ts GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("ct"))
      val ts = s.range(1).select(
        explode(array(lit(100), lit(250), lit(1000))).as("t"))
      def ceilDiv(a: Column, b: Column): Column =
        intDiv(a + b - 1, b)
      c.crossJoin(broadcast(ts))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("ct")).as("n_rows"),
          sum(ceilDiv(col("ct"), col("t"))).as("n_virtual"),
          max(ceilDiv(col("ct"), col("t"))).as("max_factor"),
          max(col("ct")).as("max_ct"))
        .select(col("t").as("t_target"), col("n_keys"), col("n_rows"),
          col("n_virtual"), col("max_factor"),
          intDiv(col("n_virtual") * 1000000L, col("n_keys"))
            .as("expand_micro"),
          intDiv(col("max_ct") * 1000000L, col("n_rows"))
            .as("top_key_share_micro"))
        .orderBy(col("t_target"))
    }
  )
}
