package graft.ops

import graft.{Q, Tables}
import graft.functions.CaseMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Text-pipeline operators over `documents` (BASELINE.json north star):
  * exact + near dedup, language ID, quality scoring, token counting,
  * fingerprinting. All pure `org.apache.spark.sql.functions` — codegen'd,
  * whole-stage-compatible, no UDFs (SURVEY.md §2.7 extension surface).
  *
  * Scale notes: per-doc feature extraction is map-side only (no shuffle);
  * the shingle self-join for n-gram Jaccard shuffles on the shingle key —
  * at 100 TB one switches to Similarity.minHashLsh (banding keeps candidate
  * pairs near-linear) which shares the same shingling front end.
  */
object TextOps {

  /** Whitespace tokens of the lowercased, trimmed text. The class is
    * EXPLICIT in both engines because every shorthand disagrees somewhere:
    * Java's \s adds vertical tab (\x0B), RE2's \s historically excluded it
    * and newer RE2 releases (hence newer DuckDB builds) include it — a bare
    * shorthand on either side tokenizes a VT-bearing document differently
    * depending on engine AND version, silently diverging token counts,
    * shingles, and all downstream dedup. [ \t\n\f\r] is the house
    * convention (VT is a token character); every oracle spells the same
    * explicit class, and TextOpsSpec pins the VT case. [[CaseMap]] lowers
    * with Spark's bytes minus its cold-start ICU title-case table. */
  def tokens(c: Column): Column = split(trim(CaseMap.lower(c)), "[ \\t\\n\\f\\r]+")

  /** DuckDB spelling of [[tokens]] over the `text` column, for oracles. */
  val duckTokens = "string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+')"

  /** First 16 bits of md5(doc_id) as 4 lowercase hex chars — the shared
    * RNG-free sampling device of q103 (downsample) and q108 (upsample).
    * Both oracles embed the identical `substr(md5(CAST(doc_id AS
    * VARCHAR)), 1, 4)`; keep the three sites in lockstep. */
  private def docHashPrefix: Column =
    substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)

  /** Source mixture tier: numeric suffix of the source name mod `m`
    * (shared by q103/q108 and their oracles' `TRY_CAST(substr(source, 4)
    * AS INT) % m`). Unbounded substring + null-on-unparseable cast on BOTH
    * sides: a source outside the srcN pattern tiers to the CASE's ELSE
    * branch identically in both engines instead of drifting. */
  private def sourceTier(m: Int): Column =
    expr("substring(source, 4)").cast("int") % m

  /** Raw Jaccard from intersection + per-doc set sizes — shared by the
    * exact shingle-self-join ground truth and the simhash verify stage;
    * q44's precision contract requires the two to stay bit-identical. */
  private def rawJaccard: Column =
    col("inter") / (col("na") + col("nb") - col("inter"))

  /** Word n-gram shingle set (distinct), one (doc_id, shingle) row each.
    * The per-doc dedup happens inside the codegen'd WordShingles expression
    * (map-side), so no distinct shuffle is needed here — the old
    * explode(sequence) + concat_ws + distinct() form paid a full exchange
    * of every shingle string before any consumer did its own join. */
  def shingles(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(col("doc_id"),
      explode(graft.functions.Shingles.wordShingles(col(textCol), n)).as("shingle"))

  /** Exact word-3-gram Jaccard pairs with raw ratio ≥ `minJac` — the
    * shingle-key self-join ground truth that q27 emits and the three
    * approximate dedup families (MinHash q36, SimHash q44, winnowing q51)
    * validate against in-engine. Returns (doc_a, doc_b, jac_raw). The
    * shingle explode is evaluated once (localCheckpoint) for its three
    * consumers — counts + both self-join sides (see q51 for the rationale). */
  def exactJaccardPairs(s: SparkSession, d: String, minJac: Double): DataFrame =
    exactJaccardPairsFrom(
      // ckpt(b): AdaptivePlan's pair-plan choice reads this explode's honest size
      shingles(Tables.documents(s, d), "text", 3).eagerCkpt, minJac)

  /** Honest-bytes threshold above which [[exactJaccardPairsFrom]] takes
    * the prefix-filtered plan instead of direct shared-shingle
    * enumeration, read at optimizer time ([[graft.plans.AdaptivePlan]]):
    * the statsChild is a [[graft.Ckpt]] eager checkpoint carrying its
    * MATERIALIZED block-manager size (~70 B/shingle row; 866 MB at sf3's
    * 7.8M rows, 1.82 GB at sf10's 26M), so this is real bytes.
    *
    * Round-13 calibration, measured TWICE: the earlier "measured
    * crossover" (~5M rows, direct 92s vs prefix 90s at sf3) was an
    * ARTIFACT of two stats bugs fixed that round — the origin-estimate
    * checkpoint statistics let JoinSelection broadcast an 866 MB shingle
    * frame (poisoning the direct plan ~4×), and the 4 MB
    * `files.openCostInBytes` floor left small document files at 5 scan
    * splits (throttling every checkpoint consumer). On the honest build
    * (q27, idle box, RunOne): sf3 direct 15.1s vs prefix 28.8s; sf10
    * (26M rows) direct 44.6s vs prefix 115.8s — DIRECT wins at every
    * measurable size and scales linearly (3.0× per 3.3× data), because
    * this corpus's shingle document-frequency is FLAT (max df 25,
    * Σdf² exactly linear in corpus size), so the direct enumeration has
    * no quadratic term for the prefix filter to prune. The threshold
    * therefore sits far above the test corpora: 16 GB ≈ 200M shingle
    * rows at the measured bytes/row. The prefix plan is the ZIPFIAN
    * escape hatch: on real text, boilerplate shingles with df in the
    * millions make the direct Σdf² term quadratic-in-df and the
    * rarest-first prefix excludes exactly those — a size statistic
    * cannot see that, which is what [[AmpThreshold]]'s probe is for. */
  private[graft] val PrefixThresholdBytes = BigInt(16L * 1024 * 1024 * 1024)

  /** Shingle-df amplification (Σdf²/rows) above which the pair kernels
    * abandon their direct plans REGARDLESS of size — the round-14 fix
    * for the measured Zipfian mis-pick (BENCH_NOTES round 14: the byte
    * thresholds are calibrated on the flat-df driver corpus, and
    * a Zipfian corpus 30× SMALLER in bytes runs the direct plan 5×
    * slower). Because the direct plans cost ~Σdf² (candidate mass) and
    * the prefix/variant plans ~rows, the crossover of the RATIO is
    * scale-invariant; measured (skew corpora, q27+q44, 32 cpus):
    * amp 75 → plans tie, amp 223 → prefix 3× faster, amp 744 → prefix
    * 20× faster; the flat corpus sits at amp 2.1–10.7 across sf0.01–sf1
    * (scale-stable, as a ratio should be). 120 splits the measured tie
    * point from the first decisive win with margin on both sides. */
  private val AmpThreshold = 120.0

  /** Honest-bytes floor below which the amplification probe is skipped:
    * under ~32 MB of checkpointed shingle rows even a worst-case-skew
    * direct plan is cheap (measured: the plans tie at skew01's 36 MB /
    * amp 75; the flat sf0.1 driver corpus sits at 26.7 MB and so never
    * pays the probe), so the probe job would cost more than it can
    * save. */
  private val AmpProbeFloorBytes = BigInt(32L * 1024 * 1024)

  /** Row-sampling modulus for the probe (keep 1/mod of shingle rows). */
  private val AmpProbeMod = 8L

  /** Build the lazy amplification-probe plan over a (doc_id, shingle)
    * stream: estimate amp = Σ_s df(s)² / Σ_s df(s) from a deterministic
    * 1/mod row-hash sample. Row sampling (not shingle-TYPE sampling) is
    * the load-bearing choice: Σdf² is dominated by a handful of hot
    * shingles, and type sampling at 1/8 misses each hot shingle with
    * probability 7/8 (estimator CV ≈ 2 on a Zipf head); row sampling
    * keeps every hot shingle, thinned ~df/mod with binomial noise ~2%
    * of its mean. Unbiasing: m_s ~ Bin(df_s, p) gives
    * E[m² − (1−p)m] = p²·df², so Σdf̂² = Σ(m² − (1−p)m)/p² and
    * rowŝ = Σm/p — the probe emits the single column `amp`. Executed
    * (or skipped) by [[graft.plans.AdaptivePlanRule]], never here:
    * building it runs zero jobs. */
  private[graft] def ampProbePlan(keyed: DataFrame, mod: Long)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val p = 1.0 / mod
    val probe = keyed
      .filter(pmod(xxhash64(col("doc_id"), col("shingle")), lit(mod)) === 0)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).cast("double").as("m"))
      .agg(
        (sum(col("m") * col("m") - lit(1.0 - p) * col("m")) / lit(p * p))
          .as("s2"),
        (sum(col("m")) / lit(p)).as("s1"))
      .select((col("s2") / greatest(col("s1"), lit(1.0))).as("amp"))
    org.apache.spark.sql.GraftSql.analyzedPlan(probe)
  }

  /** The pair family's [[graft.plans.AmpProbe]]; `floorBytes` is
    * [[AmpProbeFloorBytes]] except where a spec forces the probe on. */
  private def ampProbe(keyed: DataFrame,
      floorBytes: BigInt): graft.plans.AmpProbe =
    graft.plans.AmpProbe(ampProbePlan(keyed, AmpProbeMod), AmpThreshold,
      floorBytes)

  /** The direct shared-shingle self-join branch (exact, no prefix). */
  private def directJaccardSelfJoin(sh: DataFrame,
      minJac: Double): DataFrame =
    jaccardPairsAcross(sh, sh,
      sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")),
      minJac, col("doc_a") < col("doc_b"))

  /** Same, over an already-materialized (doc_id, shingle) frame — callers
    * that also feed a hash pipeline from the same shingles (q36, q44) pass
    * one shared localCheckpoint so the tokenize+explode runs once.
    *
    * ADAPTIVE plan choice (both plans are EXACT — identical output):
    * small corpora take the direct shared-shingle self-join, large or
    * df-skewed ones [[prefixJaccardSelfJoin]] (PPJoin-style prefix
    * filter). The decision runs at OPTIMIZER time ([[graft.plans
    * .AdaptivePlan]]): both candidate plans are built lazily (zero jobs
    * at construction) and the injected rule collapses to one branch by
    * reading the shingle frame's honest size ([[PrefixThresholdBytes]])
    * and, above [[AmpProbeFloorBytes]], its sampled Σdf²/rows. */
  def exactJaccardPairsFrom(sh: DataFrame, minJac: Double): DataFrame =
    exactJaccardPairsFromImpl(sh, minJac, PrefixThresholdBytes,
      AmpProbeFloorBytes)

  /** [[exactJaccardPairsFrom]] with the byte threshold and probe floor
    * exposed for the TextOpsSpec forced-branch pins (thresholdBytes 0
    * forces the prefix plan, floorBytes 0 forces the probe on). */
  private[graft] def exactJaccardPairsFromImpl(sh: DataFrame, minJac: Double,
      thresholdBytes: BigInt, floorBytes: BigInt): DataFrame =
    graft.plans.AdaptivePlan.choose(sh.sparkSession,
      directJaccardSelfJoin(sh, minJac),
      prefixJaccardSelfJoin(sh, minJac),
      sh, thresholdBytes, Some(ampProbe(sh, floorBytes)))

  /** Prefix-filtered exact Jaccard self-join (the PPJoin family: Bayardo
    * et al. WWW'07, Xiao et al. ICDE'08 — see PAPERS.md): order each
    * doc's shingles by ascending (document frequency, shingle) — rarest
    * first, deterministic — and join only on each doc's first
    * n − ⌈t·n⌉ + 1 shingles. Exactness lemma: if J(x,y) ≥ t then
    * |x∩y| ≥ ⌈t·max(nx,ny)⌉ (J ≥ t forces ny ≥ t·nx), and a tail of
    * ⌈t·n⌉ − 1 elements cannot hold all common elements, so the
    * canonically-smallest common shingle sits in BOTH prefixes and the
    * pair survives candidate generation. Verification recomputes the
    * exact intersection per candidate via array_intersect on the
    * collected per-doc sets, so the emitted (doc_a, doc_b, jac_raw) rows
    * are bit-identical to the direct plan's.
    *
    * Scale shape: hot shingles (the superlinear term of the direct
    * plan's Σ df² enumeration) have HIGH document frequency, so the
    * rarest-first prefix systematically excludes them — candidate volume
    * grows near-linearly with the corpus where the direct plan's grows
    * ~n^1.25 (sf3 spot-run). ⌈t·n⌉ is computed in exact integer
    * arithmetic (t scaled to millionths) — a double ceil(0.9·n) rounds
    * UP on IEEE error (0.9·10 = 9.000…002) and would silently SHORTEN
    * the prefix below the lemma's bound. */
  private[graft] def prefixJaccardSelfJoin(sh: DataFrame,
      minJac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tMicro = math.round(minJac * 1000000L)
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val need = Ranks.intDiv(col("n_sh") * tMicro + 999999L, lit(1000000L))
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("n_sh", count(lit(1)).over(wDoc))
      .withColumn("rn",
        row_number().over(wDoc.orderBy(col("df"), col("shingle"))))
      .filter(col("rn") <= col("n_sh") - need + 1)
      .select(col("shingle"), col("doc_id"),
        col("n_sh").cast("long").as("n_sh"), col("rn").cast("long").as("rn"))
    // FULLY lazy, no checkpoint: under the optimizer-time plan choice
    // (plans.AdaptivePlan) merely BUILDING this branch must run zero
    // jobs — under AQE even a lazy checkpoint's toRdd starts stage
    // materialization. The two verify endpoints read the identical
    // aggregate subtree, which exchange reuse dedupes at execution.
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("ss"))
      .select(col("doc_id"), col("ss"), size(col("ss")).as("n_sh"))
    // Two more PPJoin prunes, both EXACTNESS-PRESERVING, both killing
    // candidates before they reach the array-verify join (the expensive
    // stage — every surviving pair drags two full shingle arrays through
    // two shuffles). Measured at sf10/t=0.5: 41M raw candidate pairs →
    // 12.5M after both filters.
    //  - length filter: J ≥ t forces t·max(na,nb) ≤ min(na,nb)
    //    (J = inter/union ≤ min/max), occurrence-independent.
    //  - positional filter: rank shingles by the GLOBAL (df, shingle)
    //    total order; for the canonically-smallest COMMON shingle of a
    //    true pair, every common shingle ranks ≥ it in both docs, so
    //    inter ≤ 1 + min(na − ra, nb − rb) — and J ≥ t needs
    //    inter·(1+t) ≥ t·(na+nb). The filter runs per OCCURRENCE before
    //    the distinct: a true pair's canonical-min occurrence always
    //    passes (proof above), and occurrences it kills are provably
    //    below t. Exact integer arithmetic in micro units — no double
    //    ever touches the bound.
    val cand = prefix.toDF("shingle", "doc_a", "na", "ra")
      .join(prefix.toDF("shingle", "doc_b", "nb", "rb"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(tMicro) * greatest(col("na"), col("nb")) <=
        lit(1000000L) * least(col("na"), col("nb")))
      .filter((lit(1000000L) + lit(tMicro)) *
          (lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb"))) >=
        lit(tMicro) * (col("na") + col("nb")))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
        col("n_sh").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(rawJaccard >= minJac)
      .select(col("doc_a"), col("doc_b"), rawJaccard.as("jac_raw"))
  }

  /** The one Jaccard pair pipeline, between two (possibly pre-filtered)
    * shingle sides: shared-shingle equi join → `pairPred` (dedup/orientation
    * predicate, applied BEFORE the pair aggregate so asymmetric duplicates
    * never shuffle) → per-pair intersection counts → ratio filter. `cnt`
    * must be the per-doc shingle counts over the UNfiltered union of both
    * sides. Self-join callers pass the same frame twice with doc_a < doc_b;
    * bipartite callers (q87: new batch × corpus) pass disjoint sides. */
  def jaccardPairsAcross(a: DataFrame, b: DataFrame, cnt: DataFrame,
      minJac: Double, pairPred: Column = lit(true)): DataFrame = {
    val pairs = a.toDF("doc_a", "shingle")
      .join(b.toDF("doc_b", "shingle"), Seq("shingle")).filter(pairPred)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    // raw small-integer ratio: bit-identical across engines, round only at
    // the output edge
    val jac = rawJaccard
    pairs
      .join(cnt.toDF("doc_a", "na"), "doc_a")
      .join(cnt.toDF("doc_b", "nb"), "doc_b")
      .filter(jac >= minJac)
      .select(col("doc_a"), col("doc_b"), jac.as("jac_raw"))
  }

  /** Shared DuckDB oracle CTE prefix: tokenize → distinct 3-gram shingles →
    * per-doc shingle counts → shared-shingle pair intersections. Every
    * oracle that needs exact Jaccard (q27, q36, q44, q51, q79) interpolates
    * THIS string, so tokenization semantics can never drift between the
    * five SQL texts while the Spark side shares `shingles`/
    * `exactJaccardPairsFrom`. Yields CTEs `sh(doc_id, shingle)`,
    * `cnt(doc_id, n_sh)`, `p(doc_a, doc_b, inter)`; jaccard =
    * inter / (na + nb − inter).
    *
    * `sh`/`cnt`/`p` are AS MATERIALIZED (round 15): DuckDB may INLINE a
    * CTE per reference, and the iterated-consumer oracles (q314's r0…r5
    * PageRank chain, the RECURSIVE closure walks) then re-expand the
    * whole tokenize→shingle→self-join pipeline once per level —
    * exponentially. Measured on the blob shape (3.1M shingles of ~194
    * chars): each chain level multiplied the runtime ~8× (r0 25 s →
    * r1 207 s) and q314/q259 died after spilling 79 GB of DuckDB temp,
    * while the same prefix probed alone runs in 13 s and yields 10
    * pairs. The hint pins the evaluate-once semantics the Spark side
    * gets from eagerCkpt. */
  val jaccardCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) >= 3),
      |sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(w) - 1),
      |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |    FROM toks)),
      |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |p AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"))

  /** Count of tokens belonging to a stopword list (higher-order filter). */
  private def stopHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  private def duckStopHits(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($duckTokens, x -> list_contains($list, x)))"
  }

  /** DuckDB text of the q28 language classifier (a CASE expression over
    * `text`), shared by the q28 and q88 oracles exactly like jaccardCtes —
    * one string, so the SQL side of the classifier can never drift between
    * the two queries (the Spark side shares withPredictedLang the same way). */
  val duckPredictedLang: String = {
    val en = duckStopHits(stop("en")); val es = duckStopHits(stop("es"))
    val fr = duckStopHits(stop("fr")); val de = duckStopHits(stop("de"))
    s"""CASE
       |           WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
       |           WHEN $en = 0 AND $es = 0 AND $fr = 0 AND $de = 0 THEN 'unknown'
       |           WHEN $en >= $es AND $en >= $fr AND $en >= $de THEN 'en'
       |           WHEN $es >= $fr AND $es >= $de THEN 'es'
       |           WHEN $fr >= $de THEN 'fr'
       |           ELSE 'de' END""".stripMargin
  }

  /** Adds the q28 `predicted`-language column: a priority-ordered stopword
    * argmax encoded as array_max over (hits, priority, lang) structs so
    * each stopword count is computed ONCE in its own projection (the naive
    * when-chain inlines the tokenize+filter subtree ~16×, and the generated
    * method takes seconds of Janino compile time — measured as a flat
    * ~3.5 s regardless of scale factor). Shared by q28 and the q88
    * curation funnel so the classifier can never drift between them. */
  def withPredictedLang(df: DataFrame): DataFrame = {
    val prio = Seq("en" -> 4, "es" -> 3, "fr" -> 2, "de" -> 1)
    val best = array_max(array(prio.map { case (l, p) =>
      struct(stopHits(col("_toks"), stop(l)).as("h"), lit(p).as("p"), lit(l).as("l"))
    }: _*))
    df.withColumn("_toks", tokens(col("text")))
      .withColumn("_zh",
        size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0))))
      .withColumn("_best", best)
      .withColumn("predicted",
        when(col("_zh") > 0, "zh")
          .when(col("_best.h") === 0, "unknown")
          .otherwise(col("_best.l")))
      .drop("_toks", "_zh", "_best")
  }

  val queries: Seq[Q] = Seq(

    // Exact dedup accounting per source: raw vs normalized distinct texts.
    Q("q26_dedup_exact",
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT text) AS n_unique,
        |       count(DISTINCT trim(lower(text))) AS n_unique_norm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique"),
          countDistinct(trim(CaseMap.lower(col("text")))).as("n_unique_norm"))
        .orderBy(col("source"))
    },

    // Near-dup detection: word-3-gram shingle Jaccard over a shingle-key
    // self-join. Filter on the raw ratio (bit-identical in both engines —
    // small-integer division), round only for output.
    Q("q27_ngram_jaccard",
      s"""WITH $jaccardCtes
        |SELECT doc_a, doc_b,
        |       round(inter / (ca.n_sh + cb.n_sh - inter), 4) AS jaccard
        |FROM p
        |JOIN cnt ca ON p.doc_a = ca.doc_id
        |JOIN cnt cb ON p.doc_b = cb.doc_id
        |WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Language ID: deterministic stopword scoring with a fixed priority
    // argmax (en > es > fr > de > unknown; zh wins on CJK presence).
    Q("q28_lang_id",
      s"""WITH scored AS (
         |  SELECT lang, $duckPredictedLang AS predicted
         |  FROM documents)
         |SELECT lang, predicted, count(*) AS n
         |FROM scored GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
    ) { (s, d) =>
      withPredictedLang(Tables.documents(s, d))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },

    // Quality scoring: token stats, punctuation + stopword ratios, composite
    // score — one codegen'd projection, no shuffle until the final sort.
    Q("q29_quality_score", {
      val en = duckStopHits(stop("en"))
      s"""SELECT doc_id,
         |       len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS n_tokens,
         |       length(text) AS n_chars,
         |       round(length(text) /
         |             greatest(len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')), 1), 4)
         |         AS chars_per_token,
         |       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         |       round($en / greatest(len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')), 1), 4)
         |         AS stopword_ratio
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val nTokens = size(split(trim(col("text")), "[ \\t\\n\\f\\r]+"))
      val nChars = length(col("text"))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          nTokens.cast("long").as("n_tokens"),
          nChars.cast("long").as("n_chars"),
          round(nChars.cast("double") / greatest(nTokens, lit(1)), 4).as("chars_per_token"),
          size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("long").as("n_punct"),
          round(stopHits(tokens(col("text")), stop("en")).cast("double") /
            greatest(nTokens, lit(1)), 4).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    },

    // Token counting, whitespace + BPE-ish regex (letters | digits | other).
    Q("q30_token_count",
      """SELECT source,
        |       CAST(sum(len(string_split_regex(trim(text), '[ \t\n\f\r]+'))) AS BIGINT) AS ws_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')))
        |            AS BIGINT) AS bpe_tokens,
        |       count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          sum(size(split(trim(col("text")), "[ \\t\\n\\f\\r]+")).cast("long")).as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"), lit(0))).cast("long")).as("bpe_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    },

    // Document fingerprinting: 64-bit hash of the whitespace-normalized text.
    // Oracle checks the collision-free *property* (distinct fingerprints ==
    // distinct normalized texts) since hash algorithms differ across engines.
    Q("q31_fingerprint",
      """SELECT count(DISTINCT trim(lower(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))))
        |         AS n_fingerprints,
        |       count(*) AS n_docs
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).agg(
        countDistinct(xxhash64(trim(CaseMap.lower(regexp_replace(col("text"), "[ \\t\\n\\f\\r]+", " ")))))
          .as("n_fingerprints"),
        count(lit(1)).as("n_docs"))
    },

    // SimHash near-dup detection (the third dedup family after exact/q26,
    // MinHash/q36) — see simhashPairs for the two-stage pipeline. Oracle-
    // checked properties: the exact near-dup pair count at j ≥ 0.9 is
    // DuckDB-recomputable, and the in-engine booleans assert (a) precision —
    // every emitted pair is a true j ≥ 0.5 pair (the verification stage's
    // array_intersect Jaccard must agree with the shingle-self-join ground
    // truth) and (b) band coverage — every exact j ≥ 0.9 pair WHOSE
    // FINGERPRINTS SIT IN THE h ≤ 7 BAND is found: that is the query's
    // declared contract and the 8-chunk pigeonhole guarantees it at ANY
    // scale (high-jaccard pairs outside the band are the documented simhash
    // variance, not a pipeline bug — at sf0.1, 9 of 249 exact pairs land at
    // h > 7). All hashes are deterministic.
    Q("q44_simhash_dedup",
      s"""WITH $jaccardCtes
        |SELECT count(*) AS n_exact_09,
        |       CAST(1 AS BOOLEAN) AS precision_ok,
        |       CAST(1 AS BOOLEAN) AS covered_ok
        |FROM p
        |JOIN cnt ca ON p.doc_a = ca.doc_id
        |JOIN cnt cb ON p.doc_b = cb.doc_id
        |WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.9""".stripMargin) { (s, d) =>
      // ckpt(b): AdaptivePlan's pair-plan choice reads this explode's honest size
      val sh = shingles(Tables.documents(s, d), "text", 3).eagerCkpt
      val sets = shingleSets(sh)
      val found = simhashPairsFromSets(sets).select("doc_a", "doc_b")
      // ckpt(a): q44 three consumers; lazy 1.3× at sf0.1 (BENCH_NOTES)
      val exactAll = exactJaccardPairsFrom(sh, minJac = 0.5).eagerCkpt
      val exact05 = exactAll.select("doc_a", "doc_b")
      // exact 0.9-pairs inside the h <= 7 band: the pigeonhole-complete set
      // the chunk join must never miss, at any corpus size
      val exact09InBand = exactAll.filter(col("jac_raw") >= 0.9)
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("fa")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("fb")), "doc_b")
        .filter(expr("bit_count(fa ^ fb)") <= 7)
        .select("doc_a", "doc_b")
      exactAll.filter(col("jac_raw") >= 0.9).agg(count(lit(1)).as("n_exact_09"))
        .crossJoin(found.join(exact05, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_false")))
        .crossJoin(exact09InBand.join(found, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_missed")))
        .select(
          col("n_exact_09"),
          (col("n_false") === 0).as("precision_ok"),
          (col("n_missed") === 0).as("covered_ok"))
    },

    // Rolling-hash document fingerprinting via winnowing (the fourth dedup
    // family) — see winnowPairs for the pipeline. Oracle-checked properties:
    // the exact near-dup pair count at j ≥ 0.9 is DuckDB-recomputable, and
    // the in-engine boolean asserts ≥ 90% of those pairs are found by the
    // fingerprint-overlap join. Not 100% by design: winnowing scores
    // character-substring overlap, shingle Jaccard scores word sets — a
    // word-substituted near-dup can clear j ≥ 0.9 while its substitutions
    // break every long run (measured: 25/25 at sf0.01, 244/249 at sf0.1).
    // Winnow hashes are deterministic, so the boolean is stable.
    Q("q51_winnow_dedup",
      s"""WITH $jaccardCtes
        |SELECT count(*) AS n_exact_09,
        |       CAST(1 AS BOOLEAN) AS covered_ok
        |FROM p
        |JOIN cnt ca ON p.doc_a = ca.doc_id
        |JOIN cnt cb ON p.doc_b = cb.doc_id
        |WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.9""".stripMargin) { (s, d) =>
      val found = winnowPairs(s, d).select("doc_a", "doc_b")
      val exact09 = exactJaccardPairs(s, d, minJac = 0.9).select("doc_a", "doc_b")
      exact09.agg(count(lit(1)).as("n_exact_09"))
        .crossJoin(exact09.join(found, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_missed")))
        .select(col("n_exact_09"),
          (col("n_missed") <= col("n_exact_09") * 0.1).as("covered_ok"))
    },

    // Text normalization (the cleaning front of a training-data pipeline):
    // lowercase, whitespace-collapse, stopword-strip — all map-side
    // higher-order functions, re-joined to a normalized string. Counts are
    // integers → no fp-comparison risk in the oracle.
    Q("q67_text_normalize", {
      val en = stop("en").map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id,
         |         string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+') AS toks
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, len(toks) AS n_toks,
         |         list_filter(toks, x -> NOT list_contains($en, x)) AS kept
         |  FROM t)
         |SELECT doc_id, n_toks,
         |       len(kept) AS n_kept,
         |       length(array_to_string(kept, ' ')) AS norm_chars
         |FROM n ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val stoplist = array(stop("en").map(lit): _*)
      val toks = tokens(col("text"))
      // n_kept counts the FILTERED ARRAY, not a re-split of the normalized
      // string: split("") yields [""] in both engines, so an all-stopword
      // doc would report n_kept=1 — a mutual bug the oracle gate is
      // structurally blind to
      Tables.documents(s, d)
        .withColumn("toks", toks)
        .withColumn("kept", filter(col("toks"), t => !array_contains(stoplist, t)))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_toks"),
          size(col("kept")).as("n_kept"),
          length(concat_ws(" ", col("kept"))).cast("long").as("norm_chars"))
        .orderBy(col("doc_id"))
    },

    // Vocabulary building (BPE/tokenizer prep): global token frequencies,
    // top-20. One explode + one hash aggregate + TakeOrdered — the plan
    // scales linearly in corpus size; vocabulary cutoffs (top-K) are the
    // standard first step of tokenizer training at 100 TB.
    Q("q69_vocab_topk",
      """SELECT tok, count(*) AS freq
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |      FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok ORDER BY freq DESC, tok LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("tok"))
        .limit(20)
    },

    // TF-IDF: each document's highest-scoring term (smoothed idf,
    // ln((N+1)/(df+1))). Expression shapes mirror the oracle exactly
    // ((c/len) * ln(...)) so both engines produce bit-identical doubles for
    // the argmax; the emitted score is rounded. Two aggregates + one join —
    // the df table is tiny (vocabulary-sized) and broadcasts at any scale.
    Q("q70_tfidf",
      """WITH t AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id,
        |           unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |len AS (SELECT doc_id, count(*) AS len FROM t GROUP BY 1),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |         (tf.c / CAST(len.len AS DOUBLE)) *
        |         ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)) AS score
        |  FROM tf JOIN len USING (doc_id) JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, tok AS top_term, round(score, 6) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, tok) AS rn
        |      FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // corpus size rides the plan as a broadcast single-row aggregate (the
      // oracle's CROSS JOIN n) instead of an eager driver-side count() —
      // no synchronization point, one less scan
      val n = docs.agg(count(lit(1)).as("n"))
      val t = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      // ONE tokenize+explode+aggregate pass; doc lengths and document
      // frequencies both derive from the already-reduced tf table (len =
      // Σc per doc; df = rows per tok, since tf is unique per (doc, tok))
      // instead of re-running the explode three times
      val tf = t.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        // ckpt(a): q70 len, df + scores; lazy 1.1× at sf1 (BENCH_NOTES)
        .eagerCkpt
      val len = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("len"))
      val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val scored = tf.join(len, "doc_id").join(broadcast(dfT), "tok")
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("c") / col("len").cast("double")) *
            log((col("n") + 1).cast("double") / (col("df") + 1).cast("double")))
      // per-doc argmax as a HASH AGGREGATE, not a sort window: min over
      // (−score, tok) structs is the same total order as the oracle's
      // row_number() OVER (ORDER BY score DESC, tok) pick — scores are
      // non-negative products so negation is exact — but aggregates
      // partially map-side and shuffles one row per doc instead of sorting
      // every (doc, token) row inside an exchange. At corpus scale the
      // window variant's sort is the dominant cost of the whole query.
      scored
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("score")).as("neg"), col("tok"))).as("best"))
        .select(col("doc_id"), col("best.tok").as("top_term"),
          round(-col("best.neg"), 6).as("score"))
        .orderBy(col("doc_id"))
    },

    // Dedup CLUSTERING — the step after pair-finding in a training-data
    // pipeline: near-dup pairs (the q27 exact ground truth) become
    // connected components via distributed min-label propagation
    // (ops.Graph), and the per-cluster accounting says how many docs a
    // keep-one-per-cluster pass would drop. The oracle recomputes the same
    // components with a recursive transitive-closure CTE — an entirely
    // independent algorithm, so the distributed iteration is verified
    // end-to-end against declarative SQL semantics.
    Q("q79_dedup_clusters",
      s"""WITH RECURSIVE $jaccardCtes,
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
        |sizes AS (SELECT component, count(*) AS sz FROM root GROUP BY 1)
        |SELECT count(*) AS n_clusters,
        |       CAST(sum(sz) AS BIGINT) AS n_docs_in_clusters,
        |       CAST(sum(sz) - count(*) AS BIGINT) AS n_duplicates_to_drop,
        |       max(sz) AS max_cluster_size
        |FROM sizes""".stripMargin) { (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = Graph.connectedComponents(pairs)
      cc.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_clusters"),
          sum(col("sz")).cast("bigint").as("n_docs_in_clusters"),
          (sum(col("sz")) - count(lit(1))).cast("bigint")
            .as("n_duplicates_to_drop"),
          max(col("sz")).as("max_cluster_size"))
    },

    // INCREMENTAL dedup: a new ingest batch (doc_id % 7 == 0) deduped
    // against the EXISTING corpus only — the daily-ingest shape, where
    // per-batch cost scales with the batch, never corpus². Stage 1: exact
    // dups via a 64-bit content-hash equi join (the hash carries the
    // shuffle; raw text equality rides as residual collision verification).
    // Stage 2: near-dups via the shared shingle pipeline with the two join
    // sides PRE-FILTERED to new × corpus — no corpus-internal pairs are
    // ever generated. At 100 TB the corpus shingle side is a persisted
    // bucketed index, so only the new batch's shingles shuffle per run;
    // here both sides come off one materialized shingle frame. The oracle
    // recomputes both stages from scratch (XOR-membership on the shared
    // pair CTE), so a missed orientation (corpus-side doc_a vs doc_b) or a
    // leaked corpus-internal pair breaks the hash. This corpus has no
    // cross-batch exact dups — stage 1's zero is itself oracle-verified.
    Q("q87_incremental_dedup",
      s"""WITH $jaccardCtes,
        |ex AS (SELECT DISTINCT n.doc_id AS id FROM documents n
        |       JOIN documents c ON n.text = c.text
        |        AND n.doc_id % 7 = 0 AND c.doc_id % 7 <> 0),
        |nd AS (SELECT DISTINCT CASE WHEN doc_a % 7 = 0 THEN doc_a
        |                            ELSE doc_b END AS id
        |       FROM p JOIN cnt ca ON p.doc_a = ca.doc_id
        |              JOIN cnt cb ON p.doc_b = cb.doc_id
        |       WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5
        |         AND ((doc_a % 7 = 0) <> (doc_b % 7 = 0)))
        |SELECT CASE WHEN ex.id IS NOT NULL THEN 'dup_exact'
        |            WHEN nd.id IS NOT NULL THEN 'near_dup'
        |            ELSE 'kept' END AS verdict, count(*) AS n_docs
        |FROM documents d LEFT JOIN ex ON d.doc_id = ex.id
        |                 LEFT JOIN nd ON d.doc_id = nd.id
        |WHERE d.doc_id % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val isNew = col("doc_id") % 7 === 0
      val exactDup = docs.filter(isNew).as("n")
        .join(docs.filter(!isNew).as("c"),
          xxhash64(col("n.text")) === xxhash64(col("c.text")) &&
            col("n.text") === col("c.text"), "left_semi")
        .select(col("doc_id").as("id")).distinct()
        .withColumn("ex", lit(1))
      // ckpt(b): explode frame on both join sides; static estimate is too low
      val sh = shingles(docs, "text", 3).eagerCkpt
      val nearDup = jaccardPairsAcross(
        sh.filter(col("doc_id") % 7 === 0),
        sh.filter(col("doc_id") % 7 =!= 0),
        sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")),
        minJac = 0.5)
        .select(col("doc_a").as("id")).distinct()
        .withColumn("nd", lit(1))
      docs.filter(isNew).select(col("doc_id"))
        .join(exactDup, col("doc_id") === exactDup("id"), "left").drop("id")
        .join(nearDup, col("doc_id") === nearDup("id"), "left").drop("id")
        .select(when(col("ex") === 1, "dup_exact")
          .when(col("nd") === 1, "near_dup")
          .otherwise("kept").as("verdict"))
        .groupBy("verdict").agg(count(lit(1)).as("n_docs"))
        .orderBy("verdict")
    },

    // The CURATION capstone: the three-stage training-data filter every
    // corpus pipeline runs before tokenization — language gate (the q28
    // classifier), quality gate (token-count floor), then near-dup removal
    // among the survivors with the deterministic KEEP-FIRST rule: a doc is
    // dropped iff some smaller-id survivor is its near-dup (jac ≥ 0.5).
    // Keep-first needs no component iteration (unlike q82's clustering) —
    // it is one shingle join + one distinct over doc_b, the cheap greedy
    // used when the pipeline runs daily and doc_id encodes arrival order.
    // Emits the per-source funnel (total → lang → quality → kept), i.e.
    // the curation report. One classified frame is materialized once and
    // feeds both the shingle join and the accounting; every stage is
    // recomputed independently by the oracle.
    Q("q88_corpus_curation",
      s"""WITH cls AS (
        |  SELECT doc_id, source, $duckPredictedLang AS pred,
        |         len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS nt
        |  FROM documents),
        |surv AS (SELECT doc_id FROM cls WHERE pred = 'en' AND nt >= 12),
        |$jaccardCtes,
        |dropped AS (
        |  SELECT DISTINCT doc_b FROM p
        |  JOIN surv sa ON p.doc_a = sa.doc_id
        |  JOIN surv sb ON p.doc_b = sb.doc_id
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_lang,
        |       CAST(sum(CASE WHEN pred = 'en' AND nt >= 12 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_quality,
        |       CAST(sum(CASE WHEN pred = 'en' AND nt >= 12
        |                      AND dr.doc_b IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept
        |FROM cls LEFT JOIN dropped dr ON cls.doc_id = dr.doc_b
        |GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      val classified = withPredictedLang(
        Tables.documents(s, d).select("doc_id", "source", "text"))
        .withColumn("nt", size(split(trim(col("text")), "[ \\t\\n\\f\\r]+")))
        .withColumn("lang_ok", col("predicted") === "en")
        .withColumn("qual_ok", col("lang_ok") && col("nt") >= 12)
        // ckpt(a): shingle join + accounting; unshared, the UDF pass runs twice
        .eagerCkpt
      val surv = classified.filter(col("qual_ok")).select("doc_id", "text")
      val droppedIds = exactJaccardPairsFrom(
        // ckpt(b): AdaptivePlan's pair-plan choice reads this explode's honest size
        shingles(surv, "text", 3).eagerCkpt, minJac = 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("dropped", lit(1))
      classified.join(droppedIds, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lang_ok").cast("int")).cast("bigint").as("n_lang"),
          sum(col("qual_ok").cast("int")).cast("bigint").as("n_quality"),
          sum((col("qual_ok") && col("dropped").isNull).cast("int"))
            .cast("bigint").as("n_kept"))
        .orderBy(col("source"))
    },

    // The dedup CAPSTONE: pairs → components → a deduplicated corpus.
    // Each near-dup cluster keeps its canonical doc (the min doc_id — which
    // IS the component label min-label propagation converges to, so the
    // keeper set needs no extra aggregation); everything not in any cluster
    // survives untouched. Emits per-source before/after accounting — the
    // numbers a training-data pipeline reports after its dedup stage. The
    // oracle recomputes the dropped set independently via the recursive
    // closure.
    Q("q82_dedup_keep_canonical",
      s"""WITH RECURSIVE $jaccardCtes,
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
        |dropped AS (SELECT node FROM root WHERE component <> node)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept
        |FROM documents LEFT JOIN dropped dr ON doc_id = dr.node
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val dropped = Graph.connectedComponents(pairs)
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id")).withColumn("dup", lit(1))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(dropped, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup").isNull, 1).otherwise(0)).cast("bigint")
            .as("n_kept"))
        .orderBy(col("source"))
    },

    // WITHIN-document repetition metrics (the Gopher/C4 quality-filter
    // family): duplicate-token fraction plus the most frequent word bigram
    // and the fraction of the doc it covers — the standard "repetitive
    // boilerplate" signals a training-data pipeline thresholds on before
    // tokenization. Token stats are map-side higher-order functions; the
    // per-doc top bigram runs explode → (doc, bigram) hash aggregate →
    // row_number()=1, which stays linear in corpus size (never O(len²)
    // per doc, unlike an in-array frequency scan). Tie on count breaks to
    // the lexicographically smallest bigram in both engines.
    Q("q91_doc_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, len(w) AS n_toks, len(list_distinct(w)) AS n_distinct
        |  FROM t),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)),
        |                i -> w[i] || ' ' || w[i+1])) AS bigram
        |  FROM t WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, bigram, c,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY c DESC, bigram) AS rn
        |  FROM bc)
        |SELECT b.doc_id, b.n_toks, b.n_distinct,
        |       round((b.n_toks - b.n_distinct) / CAST(b.n_toks AS DOUBLE), 4)
        |         AS dup_tok_frac,
        |       t.bigram AS top_bigram, t.c AS top_bigram_n,
        |       round(t.c / CAST(b.n_toks - 1 AS DOUBLE), 4) AS top_bigram_frac
        |FROM base b JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      repetitionStats(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // Benchmark DECONTAMINATION — the eval-integrity pass every LLM corpus
    // pipeline runs before training: any corpus doc sharing an 8-token
    // n-gram with the held-out benchmark set (here the deterministic
    // doc_id % 97 slice) is flagged as contaminated. The 100 TB shape is
    // exactly this plan: the benchmark n-gram universe is tiny and
    // BROADCASTS (a real pipeline ships eval-suite 8-grams, a few MB), so
    // the corpus side is one map-side shingle explode + broadcast semi
    // join — the 100 TB corpus is scanned once and never shuffled; only
    // the matched doc_ids (near-zero cardinality) reach an exchange.
    Q("q92_decontaminate",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(w) - 6),
        |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |                       w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
        |                       w[i+6] || ' ' || w[i+7])) AS shingle
        |    FROM t WHERE len(w) >= 8)),
        |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM sh JOIN b USING (shingle)
        |  WHERE doc_id % 97 <> 0)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_contaminated
        |FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isBench = col("doc_id") % 97 === 0
      docs.filter(!isBench)
        .join(contaminatedIds(docs, isBench, n = 8).withColumn("hit", lit(1)),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hit").isNotNull, 1).otherwise(0)).cast("bigint")
            .as("n_contaminated"))
        .orderBy(col("source"))
    },

    // Multimodal-adjacent: byte-level metadata + content hash of the UTF-8
    // payload (sha2 hex matches DuckDB sha256 on identical bytes).
    Q("q32_content_hash",
      """SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS content_sha
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("content_sha"))
        .orderBy(col("doc_id"))
    },

    // Sensitive-term scrub (the PII-redaction shape of a curation pipeline:
    // regex → replace → audit counts). The corpus is synthetic word salad,
    // so two vocabulary words stand in for the sensitive-term lexicon; the
    // plumbing — one map-side regexp_replace + regexp_extract_all pass, a
    // per-source audit aggregate, zero shuffles beyond the final tiny
    // groupBy — is exactly the production shape. `\b(...)\b` parses
    // identically in Java regex and DuckDB's RE2.
    Q("q99_redact",
      """WITH r AS (
        |  SELECT source,
        |         len(regexp_extract_all(text, '\b(customer|vector)\b')) AS n_hits,
        |         length(text)
        |           - length(regexp_replace(text, '\b(customer|vector)\b', '[X]', 'g'))
        |           AS delta
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_docs_hit,
        |       CAST(sum(n_hits) AS BIGINT) AS n_redactions,
        |       CAST(sum(delta) AS BIGINT) AS chars_removed
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val pat = "\\b(customer|vector)\\b"
      val redacted = Tables.documents(s, d).select(
        col("source"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_hits"),
        (length(col("text")) -
          length(regexp_replace(col("text"), pat, "[X]"))).as("delta"))
      redacted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_hits") > 0, 1).otherwise(0)).cast("long").as("n_docs_hit"),
          sum(col("n_hits")).cast("long").as("n_redactions"),
          sum(col("delta")).cast("long").as("chars_removed"))
        .orderBy(col("source"))
    },

    // Token-window chunking — the training-prep operator that splits each
    // document into fixed-size overlapping windows (16 tokens, stride 12,
    // tail-aligned so the last window still spans 16 tokens and coverage is
    // total). Start offsets are generated per row (sequence + explode =
    // map-side fan-out, no shuffle until the audit aggregate), the window
    // itself is a slice of the one tokens array. Both engines build the
    // SAME chunk strings, so n_uniq_chunks hash-checks the actual window
    // CONTENT, not just the counting arithmetic.
    Q("q100_chunk_windows",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |n AS (SELECT doc_id, source, w, len(w) AS n FROM t WHERE len(w) >= 1),
        |st AS (
        |  SELECT doc_id, source, n, w,
        |         unnest(CASE WHEN n <= 16 THEN [CAST(0 AS BIGINT)]
        |                     WHEN (n - 16) % 12 = 0 THEN range(0, n - 16 + 1, 12)
        |                     ELSE list_append(range(0, n - 16 + 1, 12),
        |                                      CAST(n - 16 AS BIGINT)) END) AS s0
        |  FROM n),
        |c AS (
        |  SELECT doc_id, source, n,
        |         array_to_string(list_slice(w, s0 + 1, least(s0 + 16, n)), ' ')
        |           AS chunk
        |  FROM st)
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |       count(DISTINCT md5(chunk)) AS n_uniq_chunks,
        |       CAST(sum(least(n, 16)) AS BIGINT) AS sum_chunk_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val win = 16
      val stride = 12
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
        .withColumn("n", size(col("w")))
        .filter(col("n") >= 1)
      val starts = when(col("n") <= win, array(lit(0)))
        .otherwise(when(((col("n") - win) % stride) === 0,
            sequence(lit(0), col("n") - win, lit(stride)))
          .otherwise(concat(sequence(lit(0), col("n") - win, lit(stride)),
            array(col("n") - win))))
      toks.withColumn("s0", explode(starts))
        .select(col("doc_id"), col("source"), col("n"),
          // distinct over the DIGEST, not the window text: the multi-
          // distinct Expand replicates every chunk row per distinct agg,
          // so hashing first shrinks what the exchange carries from a
          // ~16-token string to 32 hex chars while still hash-checking
          // the window CONTENT (both engines digest the same bytes)
          md5(concat_ws(" ", slice(col("w"), col("s0") + 1, lit(win)))
            .cast("binary")).as("chunk_md5"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_md5")).as("n_uniq_chunks"),
          sum(least(col("n"), lit(win))).cast("long").as("sum_chunk_tokens"))
        .orderBy(col("source"))
    },

    // Sequence packing — the pretraining-prep operator that concatenates
    // tokenized documents in deterministic doc_id order and splits the token
    // stream into fixed 64-token training sequences, documents straddling
    // sequence boundaries (GPT-style concat-then-chunk). Packing runs PER
    // SOURCE — the production shape at 100 TB: each shard packs
    // independently in parallel (one global ordering would serialize the
    // corpus through a single sort), so the cumulative offset window never
    // crosses the executor that owns the shard. Everything after the one
    // tokenize pass is window arithmetic on (source, n) — the token arrays
    // themselves are never shuffled.
    Q("q102_sequence_pack",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS n
        |  FROM documents),
        |p AS (
        |  SELECT source, n,
        |         coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                  0) AS off
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS total_tokens,
        |       CAST((sum(n) + 63) // 64 AS BIGINT) AS n_seqs,
        |       CAST(sum(CASE WHEN (off + n - 1) // 64 > off // 64
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
        |       round(count(*) / CAST((sum(n) + 63) // 64 AS DOUBLE), 4)
        |         AS docs_per_seq
        |FROM p GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val seqLen = 64
      val t = Tables.documents(s, d).select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nSeqs = floor((sum(col("n")) + seqLen - 1) / seqLen).cast("long")
      t.withColumn("off", coalesce(sum(col("n")).over(w), lit(0L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"),
          nSeqs.as("n_seqs"),
          sum(when(floor((col("off") + col("n") - 1) / seqLen) >
            floor(col("off") / seqLen), 1).otherwise(0))
            .cast("long").as("n_straddlers"),
          round(count(lit(1)) / nSeqs.cast("double"), 4).as("docs_per_seq"))
        .orderBy(col("source"))
    },

    // Mixture sampling — downsample each source to a target mixture weight
    // WITHOUT RNG: a doc survives iff the first 16 bits of md5(doc_id) fall
    // under the weight threshold (0x4000/0x8000/0xc000 ≡ 25/50/75%, every
    // 4th source kept whole). Hash-thresholding is the 100 TB mixture
    // shape: the decision is a map-side pure function of the row, so a
    // retried task, a re-run, or a different partition layout samples
    // IDENTICALLY (RNG sampling changes membership under retries), and the
    // kept set composes with any downstream hash-split (q68) or shard
    // assignment (q104) because the hashes are independent.
    Q("q103_mixture_sample",
      """WITH t AS (
        |  SELECT source, n_chars,
        |         TRY_CAST(substr(source, 4) AS INT) % 4 AS tier,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |  FROM documents),
        |k AS (
        |  SELECT source, n_chars,
        |         CASE CAST(tier AS INT)
        |           WHEN 0 THEN h < '4000' WHEN 1 THEN h < '8000'
        |           WHEN 2 THEN h < 'c000' ELSE TRUE END AS keep
        |  FROM t)
        |SELECT source, count(*) AS n_total,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       round(avg(CASE WHEN keep THEN CAST(n_chars AS DOUBLE) END), 2)
        |         AS kept_avg_chars
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val h = docHashPrefix
      val tier = sourceTier(4)
      val keep = when(tier === 0, h < "4000").when(tier === 1, h < "8000")
        .when(tier === 2, h < "c000").otherwise(lit(true))
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"), keep.as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          round(avg(when(col("keep"), col("n_chars").cast("double"))), 2)
            .as("kept_avg_chars"))
        .orderBy(col("source"))
    },

    // Seeded global shuffle + sharding — the "shuffle the corpus before
    // training" operator. Shard = first hex digit of md5(seed ‖ doc_id)
    // (16 shards), position within shard = rank in hash order: exactly
    // `repartition(nShards, h).sortWithinPartitions(h)` — an all-to-all
    // exchange plus a PER-SHARD sort, never a single global sort. The
    // position-weighted checksum Σ pos·doc_id mod 1e9+7 pins the
    // within-shard ORDER (not just membership) to the oracle while
    // staying BIGINT-safe at any SF (the raw sum grows ~cubically: pos,
    // doc_id, and shard size all scale with the corpus — ~2e14 at sf1,
    // int64 gone by ~sf30; the mod is taken on an exact DECIMAL(38,0) /
    // HUGEINT accumulation so both engines reduce the same integer).
    // The seed in the hash makes
    // epoch-to-epoch reshuffles a one-literal change that provably
    // re-permutes every shard.
    Q("q104_shuffle_shards",
      """WITH h AS (
        |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, substr(hk, 1, 1) AS shard,
        |         row_number() OVER (PARTITION BY substr(hk, 1, 1)
        |                            ORDER BY hk, doc_id) AS pos
        |  FROM h)
        |SELECT shard, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS member_checksum,
        |       CAST(sum(CAST(pos AS HUGEINT) * doc_id) % 1000000007
        |            AS BIGINT) AS order_checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val hk = md5(concat(lit("42:"), col("doc_id").cast("string")).cast("binary"))
      val w = Window.partitionBy(col("shard")).orderBy(col("hk"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), hk.as("hk"))
        .withColumn("shard", substring(col("hk"), 1, 1))
        .withColumn("pos", row_number().over(w))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("member_checksum"),
          (sum(col("pos").cast("decimal(38,0)") * col("doc_id"))
            % lit(1000000007L)).cast("long").as("order_checksum"))
        .orderBy(col("shard"))
    },

    // Sub-document (line-level) dedup — the ccnet/Gopher curation step that
    // removes REPEATED LINES across the whole corpus, not whole-document
    // dups: boilerplate headers/footers recur in millions of otherwise
    // distinct pages. This corpus has no newlines, so a "line" is a fixed
    // 10-token unit; an instance survives iff it is the corpus-wide FIRST
    // occurrence of its digest ((doc_id, idx) minimal — deterministic, no
    // tie possible). One explode, one shuffle (the digest window); the
    // exchange carries digests, never line text. At 100 TB the same plan
    // holds: line hashes partition uniformly, and first-occurrence-wins
    // needs no global order — just the per-hash min.
    Q("q107_line_dedup",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, source,
        |         unnest(range(0, (len(w) + 9) // 10)) AS idx, w
        |  FROM t),
        |h AS (
        |  SELECT doc_id, source, idx,
        |         md5(array_to_string(list_slice(w, idx * 10 + 1,
        |             least((idx + 1) * 10, len(w))), ' ')) AS lh
        |  FROM l),
        |r AS (
        |  SELECT source,
        |         row_number() OVER (PARTITION BY lh ORDER BY doc_id, idx)
        |           AS rn
        |  FROM h)
        |SELECT source, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 4) AS kept_frac
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lineLen = 10
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
      val lines = toks
        .withColumn("idx",
          explode(sequence(lit(0), floor((size(col("w")) - 1) / lineLen)
            .cast("int"))))
        .select(col("doc_id"), col("source"), col("idx"),
          md5(concat_ws(" ",
            slice(col("w"), col("idx") * lineLen + 1, lit(lineLen)))
            .cast("binary")).as("lh"))
      val w = Window.partitionBy(col("lh")).orderBy(col("doc_id"), col("idx"))
      lines.withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rn") === 1, 1).otherwise(0)).cast("long").as("n_kept"),
          round(sum(when(col("rn") === 1, 1).otherwise(0)) /
            count(lit(1)).cast("double"), 4).as("kept_frac"))
        .orderBy(col("source"))
    },

    // Source upsampling — the other half of mixture control (q103
    // downsamples): low-resource sources are repeated to an over-unity
    // target rate, the fractional part resolved per doc by the SAME
    // md5-threshold device (floor(w) copies always, one more iff the first
    // 16 md5 bits fall under frac(w)·2^16 ≈ 0x8000 for .5). Every copy is
    // emitted with its copy index — explode(sequence), map-side, no
    // shuffle before the audit aggregate — and the copy-weighted checksum
    // pins that the fan-out really produced distinguishable replicas, not
    // a multiplied count. Deterministic across retries like q103/q104.
    Q("q108_source_upsample",
      """WITH t AS (
        |  SELECT source, doc_id,
        |         TRY_CAST(substr(source, 4) AS INT) % 3 AS tier,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |  FROM documents),
        |k AS (
        |  SELECT source, doc_id,
        |         CASE CAST(tier AS INT)
        |           WHEN 0 THEN 1
        |           WHEN 1 THEN 1 + (CASE WHEN h < '8000' THEN 1 ELSE 0 END)
        |           ELSE 2 + (CASE WHEN h < '8000' THEN 1 ELSE 0 END)
        |         END AS n_copies
        |  FROM t),
        |e AS (
        |  SELECT source, doc_id, unnest(range(1, n_copies + 1)) AS copy
        |  FROM k)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_emitted,
        |       round(count(*) / CAST(count(DISTINCT doc_id) AS DOUBLE), 4)
        |         AS realized_rate,
        |       CAST(sum(CAST(copy AS HUGEINT) * doc_id) % 1000000007
        |            AS BIGINT) AS copy_checksum
        |FROM e GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val h = docHashPrefix
      val tier = sourceTier(3)
      val extra = when(h < "8000", 1).otherwise(0)
      val nCopies = when(tier === 0, lit(1))
        .when(tier === 1, lit(1) + extra)
        .otherwise(lit(2) + extra)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), nCopies.as("n_copies"))
        .withColumn("copy", explode(sequence(lit(1), col("n_copies"))))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_emitted"),
          round(count(lit(1)) / countDistinct(col("doc_id")).cast("double"), 4)
            .as("realized_rate"),
          // copy·doc_id sums grow ~quadratically with SF (doc_id and the
          // per-source count both scale) — reduce mod 1e9+7 over an exact
          // DECIMAL(38,0)/HUGEINT accumulation, like q104's order checksum
          (sum(col("copy").cast("decimal(38,0)") * col("doc_id"))
            % lit(1000000007L)).cast("long").as("copy_checksum"))
        .orderBy(col("source"))
    },

    // Adaptive per-group quality threshold — the Gopher-style filter where
    // the cutoff is not a fixed constant (q88/q97) but a per-source
    // quantile computed from the corpus itself: two passes, (1) p25 of
    // n_chars per source, (2) keep docs at/above their own source's p25.
    // The threshold table is group-cardinality-sized (KBs at any corpus
    // size) and rides a broadcast join back onto the corpus scan — the
    // second pass stays map-side, so the whole filter costs one aggregate
    // plus one scan at 100 TB. Exact percentile is safe at 20 groups; the
    // high-cardinality scale path is percentile_approx, whose error band
    // q64 pins.
    Q("q109_adaptive_filter",
      """WITH thr AS (
        |  SELECT source, quantile_cont(n_chars, 0.25) AS p25
        |  FROM documents GROUP BY source)
        |SELECT d.source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN d.n_chars >= t.p25 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept,
        |       round(any_value(t.p25), 2) AS p25,
        |       round(avg(CASE WHEN d.n_chars >= t.p25
        |                 THEN CAST(d.n_chars AS DOUBLE) END), 2)
        |         AS kept_avg_chars
        |FROM documents d JOIN thr t ON d.source = t.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
      val thr = docs.groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.25)").as("p25"))
      docs.join(broadcast(thr), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") >= col("p25"), 1).otherwise(0))
            .cast("long").as("n_kept"),
          round(any_value(col("p25")), 2).as("p25"),
          round(avg(when(col("n_chars") >= col("p25"),
            col("n_chars").cast("double"))), 2).as("kept_avg_chars"))
        .orderBy(col("source"))
    },

    // Corpus-relative token-rarity scoring — the IDF-flavored quality
    // signal: a doc whose (distinct) tokens mostly appear corpus-wide is
    // boilerplate; one whose tokens are rare is distinctive (or noise).
    // Two hash shuffles, both narrow: token→df (rows already distinct per
    // doc, so the df aggregate is a plain count), then doc→(n_tok, sum_df).
    // The banding stays in INTEGER cross-multiplied space (k·sum_df vs
    // m·n_tok·n_docs) — the mean-df ratio itself is never materialized as
    // a double, so band edges cannot round differently across engines
    // (same discipline as the Jaccard family's raw-ratio filters).
    Q("q112_token_rarity",
      """WITH t AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_filter(
        |           string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'),
        |           x -> x <> ''))) AS token
        |  FROM documents),
        |tdf AS (SELECT token, count(*) AS dfq FROM t GROUP BY token),
        |nd AS (SELECT count(*) AS n_corpus FROM documents),
        |per AS (
        |  SELECT t.doc_id, any_value(t.source) AS source,
        |         count(*) AS n_tok, sum(tdf.dfq) AS sum_df
        |  FROM t JOIN tdf USING (token) GROUP BY t.doc_id)
        |SELECT source,
        |       CASE WHEN 50 * sum_df >= 39 * n_tok * n_corpus THEN 'common'
        |            WHEN 4 * sum_df >= 3 * n_tok * n_corpus THEN 'mid'
        |            ELSE 'rare' END AS band,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM per, nd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // tokens(): the RE2-exact class — a bare "[ \\t\\n\\f\\r]+" would re-open the
      // Java-vs-RE2 vertical-tab divergence this file's tokenizer exists
      // to close. Materialized ONCE (q70's pattern): the df aggregate and
      // the join probe side would otherwise each re-run the
      // tokenize+explode, and their differing downstream shapes defeat
      // exchange reuse.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(filter(tokens(col("text")),
            t => t =!= ""))).as("token"))
        // ckpt(a): df aggregate + join; unshared, tokenize runs twice
        .eagerCkpt
      val tdf = toks.groupBy(col("token")).agg(count(lit(1)).as("dfq"))
      val nCorpus = Tables.documents(s, d).agg(count(lit(1)).as("n_corpus"))
      toks.join(tdf, "token")
        .groupBy(col("doc_id"))
        .agg(any_value(col("source")).as("source"),
          count(lit(1)).as("n_tok"), sum(col("dfq")).as("sum_df"))
        .crossJoin(nCorpus)
        .withColumn("band",
          when(lit(50) * col("sum_df") >= lit(39) * col("n_tok") * col("n_corpus"), "common")
            .when(lit(4) * col("sum_df") >= lit(3) * col("n_tok") * col("n_corpus"), "mid")
            .otherwise("rare"))
        .groupBy(col("source"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("total_tokens"))
        .orderBy(col("source"), col("band"))
    },

    // Prefix-filtered set-similarity self-join (AllPairs/PPJoin, Bayardo
    // WWW'07) over the 3-gram SHINGLE sets at τ = 0.5 — the same ground
    // truth as q27, but each doc contributes only its ⌊n/2⌋+1
    // globally-RAREST shingles as join keys instead of all of them.
    // Prefix lemma: J(A,B) ≥ τ ⇒ |A∩B| ≥ τ·|A∪B| ≥ ⌈τ·|A|⌉, so if A and B
    // shared nothing within their (n − ⌈τn⌉ + 1)-prefixes under ONE global
    // order, every shared shingle would sit among A's last ⌈τ·|A|⌉ − 1
    // positions — contradiction. Candidates ⊇ all true pairs; the exact
    // verify (array_intersect on the stored sets, candidates only) makes
    // the output EXACTLY the τ-pairs — n_pairs must equal q27's row count,
    // a cross-family consistency check the driver sees on both rows.
    // Scale shape: the global order is ascending document frequency, so
    // the join keys are by construction the corpus's rarest shingles —
    // boilerplate (high-df) shingles sink to the suffix and never carry
    // the join, the emergent form of q51's manual stop-fingerprint cap,
    // and the candidate key distribution is anti-skewed. Shingle sets
    // shuffle only for candidate pairs, never for the corpus at large.
    // All thresholds are integer arithmetic (⌊n/2⌋+1 = n − (n+1) DIV 2 + 1;
    // 2·inter ≥ union ⟺ J ≥ 0.5 exactly) so the candidate count, pair
    // set, and sums are bit-identical across engines — a FULL hash oracle.
    Q("q129_prefix_setsim",
      s"""WITH $jaccardCtes,
        |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        |rk AS (
        |  SELECT sh.doc_id, cnt.n_sh, sh.shingle,
        |         row_number() OVER (PARTITION BY sh.doc_id
        |                            ORDER BY df, shingle) AS rn
        |  FROM sh JOIN dfreq USING (shingle)
        |  JOIN cnt ON sh.doc_id = cnt.doc_id),
        |pfx AS (SELECT doc_id, shingle FROM rk
        |        WHERE rn <= n_sh - (n_sh + 1)//2 + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pfx a JOIN pfx b ON a.shingle = b.shingle
        |                       AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT c.doc_a, c.doc_b, p.inter,
        |         ca.n_sh AS n_a, cb.n_sh AS n_b
        |  FROM cand c
        |  JOIN p ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
        |  JOIN cnt ca ON c.doc_a = ca.doc_id
        |  JOIN cnt cb ON c.doc_b = cb.doc_id),
        |q AS (SELECT * FROM v WHERE inter * 2 >= n_a + n_b - inter)
        |SELECT (SELECT count(*) FROM cnt) AS n_docs,
        |       (SELECT count(*) FROM cand) AS n_candidates,
        |       (SELECT count(*) FROM q) AS n_pairs,
        |       (SELECT CAST(coalesce(sum(doc_a*131071 + doc_b), 0) AS BIGINT)
        |        FROM q) AS pair_checksum,
        |       (SELECT CAST(coalesce(sum(inter), 0) AS BIGINT) FROM q)
        |         AS sum_inter,
        |       (SELECT CAST(coalesce(sum(n_a + n_b - inter), 0) AS BIGINT)
        |        FROM q) AS sum_union""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sh = shingles(Tables.documents(s, d), "text", 3)
        // ckpt(b): explode under the prefix self-join; static estimate too low
        .eagerCkpt
      val sets = sh.groupBy(col("doc_id"))
        .agg(collect_set(col("shingle")).as("ss"))
        .select(col("doc_id"), col("ss"), size(col("ss")).as("n_sh"))
      val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      // canonical global order: ascending (document frequency, shingle) —
      // rarest first, deterministic tie-break shared with the oracle.
      // n_sh comes from a count window over the SAME doc partitioning the
      // rank needs (sh is distinct per doc), so the prefix never joins
      // back against `sets` — one exchange serves both window functions.
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("shingle"))
      val prefix = sh.join(dfreq, "shingle")
        .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= expr("n_sh - (n_sh + 1) DIV 2 + 1"))
        .select(col("shingle"), col("doc_id"))
        // NOT checkpointed, deliberately (round 18): the initial plan
        // shows the df-join + double-window subtree planned twice (both
        // self-join sides), and an eagerCkpt here measured 6.5→5.3 s at
        // sf0.1 — but 31→64 s at sf1, where AQE's runtime stage reuse
        // already dedupes the identical exchanges and the checkpoint is
        // pure extra materialization of a shingle-scale frame. The lazy
        // duplicate is the scale-correct shape (BENCH_NOTES round 18).
      val cand = prefix.toDF("shingle", "doc_a")
        .join(prefix.toDF("shingle", "doc_b"), "shingle")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      // every candidate survives the verify joins (inner, both endpoints
      // exist in `sets`), so n_candidates is counted in the SAME pass as
      // the verified-pair sums — the τ-filter becomes a conditional inside
      // one aggregate instead of a second job over a checkpointed `cand`
      val v = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
          col("n_sh").as("na")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
          col("n_sh").as("nb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("ok",
          col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      sets.agg(count(lit(1)).as("n_docs"))
        .crossJoin(v.agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("ok"), 1).otherwise(0)).cast("long").as("n_pairs"),
          coalesce(sum(when(col("ok"),
            col("doc_a") * 131071 + col("doc_b"))), lit(0))
            .cast("long").as("pair_checksum"),
          coalesce(sum(when(col("ok"), col("inter"))), lit(0))
            .cast("long").as("sum_inter"),
          coalesce(sum(when(col("ok"),
            col("na") + col("nb") - col("inter"))), lit(0))
            .cast("long").as("sum_union")))
    },

    // Unigram cross-entropy scoring — the perplexity-style quality filter
    // (CCNet/Gopher lineage, simplified to the corpus's own unigram LM):
    // each document's mean −ln p(token) under the global token
    // distribution. High scores = improbable token mixes (noise, boiler-
    // plate soup); the downstream curation gate thresholds on it. Scale
    // shape: ONE tokenize+explode pass (localCheckpoint) feeds the
    // vocabulary aggregate, the corpus total, and the scoring join; the
    // vocabulary table broadcasts (it grows sub-linearly in corpus size)
    // so the per-token join is map-side — the q70 posting topology.
    // The per-doc avg over doubles is order-sensitive; output rounded,
    // keyed and ordered by doc_id (no rank derived from it).
    Q("q135_unigram_xent",
      """WITH t AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id,
        |           unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |tot AS (SELECT count(*) AS tot FROM t)
        |SELECT doc_id, count(*) AS n_toks,
        |       round(avg(-ln(c / CAST(tot AS DOUBLE))), 6) AS xent
        |FROM t JOIN v USING (tok) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        // ckpt(a): three consumers; unshared, tokenize runs three times
        .eagerCkpt
      val v = t.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = t.agg(count(lit(1)).as("tot"))
      t.join(broadcast(v), "tok").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(avg(-log(col("c") / col("tot").cast("double"))), 6).as("xent"))
        .orderBy("doc_id")
    },

    // Quality-weighted deterministic sampling — keep each doc with
    // probability proportional to its quality weight (here n_chars /
    // max(n_chars), the simplest monotone proxy), the mixing device of
    // quality-upsampled pretraining recipes. RNG-free like q103/q108: the
    // keep decision compares the doc's 4-hex md5 prefix (a uniform 16-bit
    // draw) against a per-doc hex threshold printf'd from
    // floor(w · 65536) — both sides integer/string arithmetic, so the
    // sample is bit-reproducible in any engine and stable under
    // re-partitioning. Scale shape: one broadcast scalar (the max), one
    // map-side filter, one partial-aggregated group-by — no shuffle of
    // document text ever.
    Q("q136_weighted_sample",
      """WITH mx AS (SELECT max(n_chars) AS mx FROM documents),
        |w AS (SELECT doc_id, source, n_chars,
        |             least(CAST(floor(n_chars * 65536.0 / mx) AS BIGINT),
        |                   65535) AS thr
        |      FROM documents CROSS JOIN mx),
        |k AS (SELECT * FROM w
        |      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |            < printf('%04x', thr))
        |SELECT source, count(*) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("n_chars")).as("mx"))
      docs.crossJoin(broadcast(mx))
        .withColumn("thr",
          least(floor(col("n_chars") * lit(65536.0) / col("mx")).cast("long"),
            lit(65535L)))
        .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
          < format_string("%04x", col("thr")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("source")
    },

    // Train/test split-leakage audit — the contamination gate the dedup
    // literature measures (near-duplicate documents straddling the split
    // leak eval content into training): every exact near-dup pair (the
    // q27 shingle-join ground truth at j ≥ 0.5) classified by whether its
    // endpoints land in the same q68-style deterministic hash split.
    // Because the split is a pure function of doc_id (md5 first nibble
    // < 'd' ⇒ train, the 13/16 ≈ 81% convention), both endpoints' splits
    // are computed MAP-SIDE on the tiny pair stream — no join against the
    // corpus at all; the expensive part is the established shingle-key
    // join, reused verbatim. A literal 3-category spine fixes the output
    // shape at every SF (a leak-free corpus still emits its zeros row).
    // min/max jaccard instead of avg: order-insensitive over the exact
    // small-integer ratios, so no summation-order hazard.
    Q("q137_split_leakage",
      s"""WITH $jaccardCtes,
        |pr AS (
        |  SELECT doc_a, doc_b,
        |         inter / (ca.n_sh + cb.n_sh - inter) AS jac
        |  FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5),
        |cat AS (
        |  SELECT least(sa, sb) || '-' || greatest(sa, sb) AS split_pair,
        |         doc_a, doc_b, jac
        |  FROM (SELECT doc_a, doc_b, jac,
        |          CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 1) < 'd'
        |               THEN 'train' ELSE 'test' END AS sa,
        |          CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 1) < 'd'
        |               THEN 'train' ELSE 'test' END AS sb
        |        FROM pr)),
        |agg AS (
        |  SELECT split_pair, count(*) AS n_pairs,
        |         CAST(sum(doc_a + doc_b) AS BIGINT) AS id_checksum,
        |         round(min(jac), 4) AS min_jac,
        |         round(max(jac), 4) AS max_jac
        |  FROM cat GROUP BY 1),
        |spine(split_pair) AS (VALUES ('test-test'), ('test-train'), ('train-train'))
        |SELECT spine.split_pair, coalesce(n_pairs, 0) AS n_pairs,
        |       coalesce(id_checksum, 0) AS id_checksum,
        |       coalesce(min_jac, 0.0) AS min_jac,
        |       coalesce(max_jac, 0.0) AS max_jac
        |FROM spine LEFT JOIN agg USING (split_pair)
        |ORDER BY split_pair""".stripMargin) { (s, d) =>
      import s.implicits._
      def split(c: Column): Column =
        when(substring(md5(c.cast("string").cast("binary")), 1, 1) < "d", "train")
          .otherwise("test")
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
        .withColumn("sa", split(col("doc_a")))
        .withColumn("sb", split(col("doc_b")))
        .withColumn("split_pair",
          concat(least(col("sa"), col("sb")), lit("-"),
            greatest(col("sa"), col("sb"))))
        .groupBy("split_pair")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("doc_a") + col("doc_b")).cast("long").as("id_checksum"),
          round(min(col("jac_raw")), 4).as("min_jac"),
          round(max(col("jac_raw")), 4).as("max_jac"))
      Seq("test-test", "test-train", "train-train").toDF("split_pair")
        .join(pairs, Seq("split_pair"), "left")
        .select(col("split_pair"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("id_checksum"), lit(0L)).as("id_checksum"),
          coalesce(col("min_jac"), lit(0.0)).as("min_jac"),
          coalesce(col("max_jac"), lit(0.0)).as("max_jac"))
        .orderBy("split_pair")
    },

    // Exact-k deterministic uniform sample — the missing member of the
    // sampling family: q21 (Bernoulli) and q103/q108/q136 (per-row hash
    // thresholds) all draw a FRACTION, so the returned count varies with
    // corpus size; an eval-set builder needs EXACTLY k rows, reproducibly.
    // Order every doc by md5(doc_id) — a uniform, seedable permutation
    // independent of partition layout — and keep the k smallest (doc_id
    // breaks the impossible hash tie). Scale shape: TakeOrderedAndProject —
    // per-partition k-heaps, only 32·k rows reach the driver merge, the
    // corpus never shuffles (the same reservoir-sampling economics, but
    // deterministic and retry-stable). Plan pinned in PlanQualitySpec.
    Q("q156_exact_k_sample",
      """SELECT doc_id, source, h FROM (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |ORDER BY h, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .orderBy(col("h"), col("doc_id")).limit(100)
    },

    // Stratified exact-k sample — EXACTLY k docs per source, reproducibly
    // (the balanced-eval-set builder; q156 is the global form): the
    // oracle's own per-source row_number over the (md5, id) total order.
    // Spark limits the window per source before the exchange (a
    // WindowGroupLimit whose partial graft plans as per-source k-row
    // heaps, q244), so a scan partition forwards ≤ k rows per source and
    // no corpus-sized frame is shuffled or sorted.
    Q("q159_stratified_sample",
      """SELECT source, doc_id, h, rank FROM (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         CAST(row_number() OVER (PARTITION BY source
        |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |           AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("source", "rank")
    },

    // Temperature-smoothed source mixing (p_s ∝ n_s^α, α = ½) — the
    // standard LLM-data rebalancer that upweights small sources relative
    // to their raw share (q103 fixes per-tier rates; this derives them
    // from the corpus itself). The per-source keep rate toward a ½-corpus
    // budget, r_s = min(1, N/2 · √n_s / (Σ√n · n_s)), is quantized to a
    // 16-bit threshold and each doc keeps iff its 4-hex md5 prefix falls
    // under it — the q103/q136 RNG-free device: membership is a pure
    // row function, stable under retries and repartitioning. Scale shape:
    // one partial-aggregated count per source, the tiny (source → thr)
    // table broadcast back, one corpus scan; only per-source counts ever
    // shuffle. The emitted 16-bit thresholds are exact INTs, so the
    // oracle pins the entire rate derivation, not just the kept counts.
    Q("q174_temperature_mix",
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all,
        |             sum(sqrt(CAST(n_s AS DOUBLE))) AS sum_w FROM c),
        |r AS (
        |  SELECT source, n_s,
        |         CAST(floor(least(1.0,
        |                0.5 * n_all * sqrt(CAST(n_s AS DOUBLE))
        |                  / (sum_w * n_s)) * 65536) AS INT) AS thr
        |  FROM c, t),
        |k AS (
        |  SELECT d.source, r.n_s, r.thr, d.n_chars,
        |         CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |                   < printf('%04x', r.thr)
        |              THEN 1 ELSE 0 END AS keep
        |  FROM documents d JOIN r ON d.source = r.source)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_total,
        |       max(thr) AS thr_16bit,
        |       CAST(sum(keep) AS BIGINT) AS n_kept,
        |       round(avg(CASE WHEN keep = 1 THEN CAST(n_chars AS DOUBLE) END),
        |             2) AS kept_avg_chars
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val tot = counts.agg(sum(col("n_s")).cast("long").as("n_all"),
        sum(sqrt(col("n_s").cast("double"))).as("sum_w"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"),
          floor(least(lit(1.0),
            lit(0.5) * col("n_all") * sqrt(col("n_s").cast("double"))
              / (col("sum_w") * col("n_s"))) * 65536).cast("int").as("thr"))
      docs.join(broadcast(rates), "source")
        .select(col("source"), col("n_s"), col("thr"), col("n_chars"),
          when(docHashPrefix < format_string("%04x", col("thr")), 1)
            .otherwise(0).as("keep"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).cast("long").as("n_total"),
          max(col("thr")).as("thr_16bit"),
          sum(col("keep")).cast("long").as("n_kept"),
          round(avg(when(col("keep") === 1, col("n_chars").cast("double"))),
            2).as("kept_avg_chars"))
        .orderBy(col("source"))
    },

    // Contamination RADIUS — multi-source BFS over the near-dup graph: how
    // far does a quarantined ingest source's content reach through chains
    // of near-duplicates? Seeds = every src0 document (hop 0); each hop
    // crosses one exact-Jaccard near-dup edge (the q27/q79 pair set), out
    // to hop 4. The q79 components say WHICH docs are transitively linked;
    // this says HOW MANY EDGES AWAY — the audit that decides whether
    // removing a poisoned source also needs its 1-hop or 2-hop shell.
    // Distributed shape: classic frontier BFS — 4 fixed rounds of
    // frontier⋈edges with a visited-set anti join, each round's frontier
    // localCheckpointed (q79's iteration discipline). BFS-with-visited-set
    // computes exactly min-hop, which the oracle recomputes declaratively
    // as min() over a bounded recursive path expansion — an independent
    // algorithm, same function. Frontiers and the edge list carry doc ids
    // only (text never shuffles); rounds are O(frontier ⋈ edges), the
    // hop-bounded analogue of the pointer-jumping components.
    Q("q217_contamination_bfs",
      s"""WITH RECURSIVE $jaccardCtes,
        |jp AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, hop) AS (
        |  SELECT doc_id, 0 FROM documents WHERE source = 'src0'
        |  UNION ALL
        |  SELECT e.b, w.hop + 1 FROM walk w JOIN e ON w.node = e.a
        |  WHERE w.hop < 4),
        |d AS (SELECT node, min(hop) AS hop FROM walk GROUP BY 1)
        |SELECT CAST(hop AS INT) AS hop,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(node) AS BIGINT) AS id_checksum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
      val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .distinct()
      val seeds = Tables.documents(s, d)
        .filter(col("source") === "src0")
        .select(col("doc_id").as("node"))
      Graph.bfsHops(edges, seeds, maxHop = 4)
        .groupBy(col("hop").cast("int").as("hop"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("node")).cast("long").as("id_checksum"))
        .orderBy(col("hop"))
    },

    // Canonical-representative selection — the step q79 only COUNTS:
    // materialize which document each near-dup cluster KEEPS. Policy:
    // longest document wins, ties to the smallest doc_id (the "best
    // exemplar" rule a curation pipeline actually ships, not "arbitrary
    // first"). Per cluster: the representative, its length, the cluster
    // size, and a checksum of the dropped ids — so the oracle pins the
    // exact keep/drop partition, not just counts. Scale shape: components
    // come from the pointer-jumping iteration (ops.Graph); the doc-length
    // attribute joins onto the (node, component) frame by doc_id (ids and
    // lengths shuffle, text never does); the per-cluster argmax is a
    // partial-aggregated max-struct, one row per cluster out.
    Q("q230_dedup_keep_set",
      s"""WITH RECURSIVE $jaccardCtes,
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
        |m AS (
        |  SELECT root.component, root.node, d.n_chars
        |  FROM root JOIN documents d ON root.node = d.doc_id),
        |rep AS (
        |  SELECT component, node AS rep_doc, n_chars AS rep_chars,
        |         row_number() OVER (PARTITION BY component
        |                            ORDER BY n_chars DESC, node) AS rn
        |  FROM m)
        |SELECT CAST(m.component AS BIGINT) AS component,
        |       CAST(count(*) AS BIGINT) AS sz,
        |       CAST(min(rep.rep_doc) AS BIGINT) AS rep_doc,
        |       CAST(min(rep.rep_chars) AS BIGINT) AS rep_chars,
        |       CAST(sum(m.node) - min(rep.rep_doc) AS BIGINT)
        |         AS dropped_checksum
        |FROM m JOIN rep ON m.component = rep.component AND rep.rn = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = Graph.connectedComponents(pairs)
      val m = cc.join(Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")),
        cc("node") === col("doc_id"))
        .select(col("component"), col("node"), col("n_chars"))
      m.groupBy(col("component"))
        .agg(count(lit(1)).cast("long").as("sz"),
          max(struct(col("n_chars").as("nc"), (-col("node")).as("negid")))
            .as("best"),
          sum(col("node")).as("idsum"))
        .select(col("component").cast("long").as("component"), col("sz"),
          (-col("best.negid")).cast("long").as("rep_doc"),
          col("best.nc").cast("long").as("rep_chars"),
          (col("idsum") + col("best.negid")).cast("long")
            .as("dropped_checksum"))
        .orderBy(col("component"))
    },

    // Dedup-threshold calibration sweep — the tuning table behind q27's
    // hard-coded 0.5: pair counts at every candidate Jaccard cutoff
    // {0.3 … 0.9}, from ONE pair enumeration (the curve that shows where
    // the near-dup population falls off, so the pipeline owner picks a
    // threshold from data instead of folklore). The threshold comparison
    // is EXACT integer cross-multiplication (100·inter ≥ thr·(union)) —
    // no rational ever materializes, so the bucket boundaries cannot
    // drift between engines. Scale shape: the shingle self-join and pair
    // aggregate run once at the LOWEST threshold's selectivity; the
    // 7-row threshold list broadcasts onto the bounded pair set.
    Q("q232_threshold_sweep",
      s"""WITH $jaccardCtes,
        |j AS (
        |  SELECT p.doc_a, p.doc_b, p.inter,
        |         ca.n_sh + cb.n_sh - p.inter AS uni
        |  FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id),
        |t AS (SELECT unnest([30, 40, 50, 60, 70, 80, 90]) AS thr)
        |SELECT CAST(t.thr AS INT) AS threshold_pct,
        |       CAST(sum(CASE WHEN 100 * j.inter >= t.thr * j.uni
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |       CAST(sum(CASE WHEN 100 * j.inter >= t.thr * j.uni
        |                     THEN j.doc_a + j.doc_b ELSE 0 END) AS BIGINT)
        |         AS pair_checksum
        |FROM j, t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sh = shingles(Tables.documents(s, d), "text", 3)
        // ckpt(b): explode frame on both join sides; static estimate is too low
        .eagerCkpt
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val pairs = sh.toDF("doc_a", "shingle")
        .join(sh.toDF("doc_b", "shingle"), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        .join(cnt.toDF("doc_a", "na"), "doc_a")
        .join(cnt.toDF("doc_b", "nb"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"))
      val thr = s.range(3, 10).select((col("id") * 10).cast("int").as("thr"))
      val hit = lit(100) * col("inter") >= col("thr") * col("uni")
      pairs.join(broadcast(thr), lit(true))
        .groupBy(col("thr").as("threshold_pct"))
        .agg(sum(when(hit, 1L).otherwise(0L)).cast("long").as("n_pairs"),
          sum(when(hit, col("doc_a") + col("doc_b")).otherwise(0L))
            .cast("long").as("pair_checksum"))
        .orderBy(col("threshold_pct"))
    },

    // Cross-source vocabulary overlap — corpus-composition diligence at
    // the SOURCE grain (q27 works per document): pairwise Jaccard of the
    // distinct-token sets of every source pair, with each side's type
    // count alongside. High overlap between two sources predicts
    // near-dup pressure BEFORE any pair enumeration runs. Scale shape: the corpus reduces to a (source, token)
    // distinct frame once; the pair intersections come from a token-key
    // self-join of that frame (token carries the shuffle, text never
    // moves); per-source type counts broadcast back. Jaccard stays in
    // exact integers until the final rounded ratio.
    Q("q250_source_vocab_overlap",
      """WITH st AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source,
        |           unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+'))
        |             AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |c AS (SELECT source, count(*) AS n_types FROM st GROUP BY 1),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM st a JOIN st b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |       CAST(ca.n_types AS BIGINT) AS types_a,
        |       CAST(cb.n_types AS BIGINT) AS types_b,
        |       CAST(p.inter AS BIGINT) AS inter,
        |       round(CAST(p.inter AS DOUBLE)
        |             / (ca.n_types + cb.n_types - p.inter), 6) AS jaccard
        |FROM p JOIN c ca ON p.src_a = ca.source
        |JOIN c cb ON p.src_b = cb.source
        |ORDER BY jaccard DESC, src_a, src_b LIMIT 20""".stripMargin) {
      (s, d) =>
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .distinct()
        // ckpt(b): explode frame on both join sides; static estimate is too low
        .eagerCkpt
      val c = st.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
      val p = st.toDF("src_a", "tok")
        .join(st.toDF("src_b", "tok"), Seq("tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("inter"))
      p.join(broadcast(c.toDF("src_a", "ta")), "src_a")
        .join(broadcast(c.toDF("src_b", "tb")), "src_b")
        .select(col("src_a"), col("src_b"),
          col("ta").cast("long").as("types_a"),
          col("tb").cast("long").as("types_b"),
          col("inter").cast("long").as("inter"),
          round(col("inter").cast("double")
            / (col("ta") + col("tb") - col("inter")), 6).as("jaccard"))
        .orderBy(desc("jaccard"), col("src_a"), col("src_b"))
        .limit(20)
    },

    // Positional phrase search — the inverted-index structure BM25 (q132)
    // doesn't need but phrase queries do: token postings WITH POSITIONS,
    // where the phrase "sort merge" matches exactly when a 'sort' posting
    // and a 'merge' posting sit at adjacent positions of the same doc.
    // Scale shape: the posting build FILTERS to the query's two terms
    // BEFORE anything shuffles (term-selective pushdown — the corpus
    // contributes only its postings for those terms, the IR equivalent
    // of partition pruning); adjacency is an equi join on
    // (doc, position+1). Top-10 matching docs by occurrence count,
    // TakeOrdered — no window.
    Q("q258_phrase_search",
      """WITH pos AS (
        |  SELECT doc_id, unnest(w) AS tok,
        |         unnest(range(1, len(w) + 1)) AS p
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')
        |               AS w
        |        FROM documents)),
        |a AS (SELECT doc_id, p FROM pos WHERE tok = 'sort'),
        |b AS (SELECT doc_id, p FROM pos WHERE tok = 'merge'),
        |m AS (
        |  SELECT a.doc_id, count(*) AS n_occ
        |  FROM a JOIN b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |  GROUP BY 1)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(n_occ AS BIGINT) AS n_occ
        |FROM m ORDER BY n_occ DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
      val pos = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("p0", "tok")))
        .filter(col("tok").isin("sort", "merge")) // postings pruned early
        .select(col("doc_id"), col("tok"), (col("p0") + 1).as("p"))
        .eagerCkpt // ckpt(a): both phrase sides; unshared, tokenize runs twice
      val a = pos.filter(col("tok") === "sort")
        .select(col("doc_id"), col("p"))
      val b = pos.filter(col("tok") === "merge")
        .select(col("doc_id"), (col("p") - 1).as("p"))
      a.join(b, Seq("doc_id", "p"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_occ"))
        .orderBy(desc("n_occ"), asc("doc_id"))
        .limit(10)
    },

    // Exact-k WEIGHTED sampling without replacement (Efraimidis-Spirakis
    // A-Res, IPL 2006) — closes the sampling matrix: q156 draws exact-k
    // uniform, q136 draws weighted by THRESHOLD (k varies); this draws
    // EXACTLY k with probability ∝ quality weight, deterministically:
    // each doc gets key = −ln(u)/w from an RNG-free md5-derived u ∈ (0,1),
    // and the k SMALLEST keys win — the classic reduction of weighted
    // sampling to a bounded top-k, which here rides
    // TakeOrderedAndProject's per-partition heaps (zero full exchanges).
    // Keys are identical doubles in both engines (same md5 prefix, same
    // ln/division), so the sampled id set hashes exactly.
    Q("q273_weighted_exact_k",
      """WITH w AS (
        |  SELECT doc_id, n_chars,
        |         CAST(n_chars AS DOUBLE) AS wt,
        |         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |               AS INTEGER) + 1) / 65537.0 AS u
        |  FROM documents),
        |k AS (SELECT doc_id, n_chars, -ln(u) / wt AS key FROM w)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       round(key * 1000000, 6) AS key_ppm
        |FROM k ORDER BY key, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      val u = (conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 4), 16, 10).cast("long") + 1) / 65537.0
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (-log(u) / col("n_chars").cast("double")).as("key"))
        .orderBy(col("key"), col("doc_id"))
        .limit(50)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          round(col("key") * 1000000, 6).as("key_ppm"))
    },

    // Longest shared SPAN per near-dup pair — distinguishes contiguous
    // copying (one long island of shared 3-grams: template or plagiarized
    // block) from shuffled-token similarity (many 1-gram islands) that a
    // set-based Jaccard score cannot tell apart. For each q27 pair, the
    // positions in doc_a whose 3-gram also occurs in doc_b form islands
    // under the classic (pos − row_number) trick; the longest island of
    // length r covers r+2 tokens. Scale shape: the pair set is the
    // bounded q27 output; POSITIONAL shingles are built map-side for the
    // pair members only (semi-join pruned before the explode), the
    // membership probe is an equi join on (pair, shingle), and the
    // island window partitions per pair. Integers end to end.
    Q("q270_shared_spans",
      s"""WITH $jaccardCtes,
        |jp AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5),
        |pos AS (
        |  SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |           AS shingle
        |  FROM toks, unnest(range(1, len(w) - 1)) AS r(i)),
        |hits AS (
        |  SELECT jp.doc_a, jp.doc_b, pa.pos
        |  FROM jp JOIN pos pa ON pa.doc_id = jp.doc_a
        |  JOIN sh sb ON sb.doc_id = jp.doc_b AND sb.shingle = pa.shingle),
        |isl AS (
        |  SELECT doc_a, doc_b,
        |         pos - row_number() OVER (PARTITION BY doc_a, doc_b
        |                                  ORDER BY pos) AS grp
        |  FROM (SELECT DISTINCT doc_a, doc_b, pos FROM hits)),
        |runs AS (
        |  SELECT doc_a, doc_b, grp, count(*) AS run FROM isl
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(doc_a AS BIGINT) AS doc_a,
        |       CAST(doc_b AS BIGINT) AS doc_b,
        |       CAST(sum(run) AS BIGINT) AS n_shared_positions,
        |       CAST(max(run) + 2 AS BIGINT) AS max_span_tokens
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val jp = exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a"), col("doc_b"))
        // ckpt(a): q270 members + hits; lazy 1.7× at sf0.1 (BENCH_NOTES)
        .eagerCkpt
      val members = jp.select(col("doc_a").as("doc_id"))
        .union(jp.select(col("doc_b").as("doc_id"))).distinct()
      // positional 3-grams for pair MEMBERS only. Round-14 reorder: the
      // semi-join prunes the RAW documents scan, BEFORE tokenize — the
      // earlier shape (tokenize → filter(size ≥ 3) → semi-join) sat the
      // join above the projection where Spark cannot push it, so the
      // whole corpus tokenized (twice, via the pushed-down size filter)
      // to feed a member set of a few hundred docs. The short-doc guard
      // is a when() inside the gram projection for the same
      // single-evaluation reason as q317 (members always have ≥ 3
      // tokens — they carry shingles — so it is belt-and-braces).
      val docs = Tables.documents(s, d)
        .join(members, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), tokens(col("text")).as("w"))
      val posSh = docs
        .select(col("doc_id"), posexplode(when(size(col("w")) >= 3,
          transform(
            sequence(lit(1), size(col("w")) - 2),
            i => concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
          .otherwise(array().cast("array<string>"))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col")
          .as("shingle"))
        // ckpt(a): probe side + member set; unshared, the posexplode runs twice
        .eagerCkpt
      val bSet = posSh.select(col("doc_id").as("doc_b"),
        col("shingle")).distinct()
      val hits = jp
        .join(posSh.toDF("doc_a", "pos", "shingle"), Seq("doc_a"))
        .join(bSet, Seq("doc_b", "shingle"), "left_semi")
        .select(col("doc_a"), col("doc_b"), col("pos")).distinct()
      val w = Window.partitionBy(col("doc_a"), col("doc_b"))
        .orderBy(col("pos"))
      hits.withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_a"), col("doc_b"), col("grp"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("run")).cast("long").as("n_shared_positions"),
          (max(col("run")) + 2).cast("long").as("max_span_tokens"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Bipartiteness audit of the near-dup graph — does the pair stream
    // form two-sided structures (template A ↔ filled-in B: a mirror/
    // translation corpus) or does it close odd cycles (mutual paraphrase
    // clusters)? BFS parity from each component's root (q217's bfsHops,
    // multi-seeded with every component representative — frontiers can't
    // cross components, so each node's hop is measured from its own
    // root); a graph is bipartite iff NO edge joins two same-parity
    // hops. The oracle recomputes root-distance parity with a bounded
    // recursive walk — independent mechanics, same classification.
    // all_reached pins the hop bound: if any component out-ran 16 hops
    // the row hash breaks loudly instead of silently misclassifying.
    Q("q259_bipartite_audit",
      s"""WITH RECURSIVE $jaccardCtes,
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
        |walk(node, hop) AS (
        |  SELECT DISTINCT component, 0 FROM root
        |  UNION ALL
        |  SELECT e.b, w.hop + 1 FROM walk w JOIN e ON w.node = e.a
        |  WHERE w.hop < 16),
        |h AS (SELECT node, min(hop) AS hop FROM walk GROUP BY 1),
        |oddc AS (
        |  SELECT DISTINCT root.component
        |  FROM e JOIN h ha ON e.a = ha.node JOIN h hb ON e.b = hb.node
        |  JOIN root ON e.a = root.node
        |  WHERE (ha.hop + hb.hop) % 2 = 0)
        |SELECT CAST((SELECT count(DISTINCT component) FROM root)
        |            AS BIGINT) AS n_components,
        |       CAST((SELECT count(*) FROM root) AS BIGINT) AS n_nodes,
        |       CAST((SELECT count(*) FROM oddc) AS BIGINT)
        |         AS n_odd_cycle,
        |       CAST((SELECT count(DISTINCT component) FROM root)
        |            - (SELECT count(*) FROM oddc) AS BIGINT)
        |         AS n_bipartite,
        |       (SELECT count(*) FROM root)
        |         = (SELECT count(*) FROM h) AS all_reached""".stripMargin) {
      (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
        // ckpt(a): collectIfSmall's probe + collect jobs and the edge list read it
        .eagerCkpt
      val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .distinct()
        // ckpt(a): collectIfSmall's probe + collect jobs and the odd-edge join read it
        .eagerCkpt
      val cc = Graph.connectedComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      val roots = cc.select(col("component").as("node")).distinct()
      val hops = Graph.bfsHops(edges, roots, maxHop = 16)
      val oddEdges = edges
        .join(hops.toDF("a", "ha"), Seq("a"))
        .join(hops.toDF("b", "hb"), Seq("b"))
        .filter((col("ha") + col("hb")) % 2 === 0)
        .join(cc, col("a") === cc("node"))
        .select(col("component")).distinct()
      val counts = cc.agg(
        countDistinct(col("component")).cast("long").as("n_components"),
        count(lit(1)).cast("long").as("n_nodes"))
      val odd = oddEdges.agg(count(lit(1)).cast("long").as("n_odd_cycle"))
      val reached = hops.agg(count(lit(1)).as("n_hops"))
      counts.join(broadcast(odd), lit(true))
        .join(broadcast(reached), lit(true))
        .select(col("n_components"), col("n_nodes"), col("n_odd_cycle"),
          (col("n_components") - col("n_odd_cycle")).as("n_bipartite"),
          (col("n_nodes") === col("n_hops")).as("all_reached"))
    },

    // Quantile normalization across sources — the batch-effect remover
    // (classic in bioinformatics, equally apt for multi-source corpora):
    // each source's doc-length distribution is mapped ONTO the pooled
    // distribution by rank, so after normalization every source draws
    // from the same length profile and a length-based quality filter
    // can't systematically favor one ingest source. Protocol (exact
    // integers end-to-end): doc with within-source rank r of n_s maps to
    // the pooled value at global rank ⌈r·N/n_s⌉. Scale shape: the
    // within-source rank is a source-partitioned window (parallel); the
    // POOLED rank uses [[Ranks.globalIndex]] (block-offset topology — no
    // corpus-wide SinglePartition sort); the mapping is one equi join on
    // the target rank. Output sums are BIGINT checksums of the full
    // mapping, so the oracle pins every mapped value.
    Q("q238_quantile_normalize",
      """WITH pooled AS (
        |  SELECT n_chars,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS g
        |  FROM documents),
        |n AS (SELECT count(*) AS nn FROM documents),
        |src AS (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS r,
        |         count(*) OVER (PARTITION BY source) AS ns
        |  FROM documents),
        |mapped AS (
        |  SELECT s.source, s.n_chars AS before_v, p.n_chars AS after_v
        |  FROM src s JOIN n ON true
        |  JOIN pooled p ON p.g = (s.r * n.nn + s.ns - 1) // s.ns)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(before_v) AS BIGINT) AS sum_before,
        |       CAST(sum(after_v) AS BIGINT) AS sum_after,
        |       CAST(min(after_v) AS BIGINT) AS min_after,
        |       CAST(max(after_v) AS BIGINT) AS max_after
        |FROM mapped GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val pooled = Ranks.globalIndex(docs, col("n_chars"), col("doc_id"))
        .select(col("idx").as("g"), col("n_chars").as("after_v"))
      val nn = docs.agg(count(lit(1)).as("nn"))
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val src = docs
        .withColumn("r", row_number().over(wSrc))
        .withColumn("ns", count(lit(1))
          .over(Window.partitionBy(col("source"))))
        .join(broadcast(nn), lit(true))
        .withColumn("g", expr("CAST((r * nn + ns - 1) div ns AS BIGINT)"))
      src.join(pooled, "g")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_before"),
          sum(col("after_v")).cast("long").as("sum_after"),
          min(col("after_v")).cast("long").as("min_after"),
          max(col("after_v")).cast("long").as("max_after"))
        .orderBy(col("source"))
    },

    // Cluster-aware train/val/test split — the split that PREVENTS what
    // q137 only audits: near-duplicate documents must land in the SAME
    // split (a train/test near-dup pair is leakage; random splits create
    // them in proportion to the dup rate). Split key = the doc's q79
    // component representative (min id) when it is clustered, else the
    // doc itself; the 12/2/2-sixteenths assignment hashes the KEY (q68's
    // portable md5-hex protocol), so cluster cohesion holds by
    // construction — and the emitted n_straddling column RECOMPUTES the
    // cohesion claim from the raw splits in both engines instead of
    // trusting it. Scale shape: components from the pointer-jumping
    // iteration; one left join keys every doc; the hash is map-side.
    Q("q239_cluster_split",
      s"""WITH RECURSIVE $jaccardCtes,
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
        |keyed AS (
        |  SELECT d.doc_id, coalesce(root.component, d.doc_id) AS k
        |  FROM documents d LEFT JOIN root ON d.doc_id = root.node),
        |sp AS (
        |  SELECT doc_id, k,
        |         CASE WHEN substr(md5(CAST(k AS VARCHAR)), 1, 1) < 'c'
        |              THEN 'train'
        |              WHEN substr(md5(CAST(k AS VARCHAR)), 1, 1) < 'e'
        |              THEN 'val' ELSE 'test' END AS split
        |  FROM keyed),
        |str AS (
        |  SELECT count(*) AS n_straddling FROM (
        |    SELECT root.component FROM root
        |    JOIN sp ON root.node = sp.doc_id
        |    GROUP BY 1 HAVING count(DISTINCT sp.split) > 1))
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |       (SELECT CAST(n_straddling AS BIGINT) FROM str)
        |         AS n_straddling
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = Graph.connectedComponents(pairs)
      val keyed = Tables.documents(s, d).select(col("doc_id"))
        .join(cc, col("doc_id") === cc("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("k"))
      val hex = substring(md5(col("k").cast("string").cast("binary")), 1, 1)
      val sp = keyed
        .withColumn("split", when(hex < "c", "train")
          .when(hex < "e", "val").otherwise("test"))
        // ckpt(a): split table + straddle audit; unshared, scan + cc join rerun
        .eagerCkpt
      val straddle = cc.join(sp, cc("node") === sp("doc_id"))
        .groupBy(col("component"))
        .agg(countDistinct(col("split")).as("nsp"))
        .filter(col("nsp") > 1)
        .agg(count(lit(1)).cast("long").as("n_straddling"))
      sp.groupBy(col("split"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("k")).cast("long").as("n_keys"))
        .join(broadcast(straddle), lit(true))
        .select(col("split"), col("n_docs"), col("n_keys"),
          col("n_straddling"))
        .orderBy(col("split"))
    },

    // Cross-source duplication flow matrix — WHICH sources copy from which:
    // the q27 near-dup pair stream (exact 3-gram Jaccard ≥ 0.5) cross-
    // tabulated by the two endpoints' source labels (canonically ordered so
    // (a,b) and (b,a) land in one cell). The table a curation team reads
    // before deciding per-source dedup order: a heavy off-diagonal cell
    // means one source mirrors another, a heavy diagonal means internal
    // templating. Scale shape: the pair stream is tiny and BROADCASTS to
    // the two documents lookups (doc_id, source only — text never moves);
    // per-cell jaccard extremes use min/max, never an order-sensitive
    // double sum (the q137 convention).
    Q("q292_source_dup_matrix",
      s"""WITH $jaccardCtes,
        |q AS (
        |  SELECT p.doc_a, p.doc_b,
        |         inter / (ca.n_sh + cb.n_sh - inter) AS jac
        |  FROM p
        |  JOIN cnt ca ON p.doc_a = ca.doc_id
        |  JOIN cnt cb ON p.doc_b = cb.doc_id
        |  WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5),
        |x AS (
        |  SELECT least(da.source, db.source) AS source_1,
        |         greatest(da.source, db.source) AS source_2, jac
        |  FROM q
        |  JOIN documents da ON q.doc_a = da.doc_id
        |  JOIN documents db ON q.doc_b = db.doc_id)
        |SELECT source_1, source_2, count(*) AS n_pairs,
        |       round(min(jac), 4) AS min_jac,
        |       round(max(jac), 4) AS max_jac
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val pairs = exactJaccardPairs(s, d, minJac = 0.5)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      broadcast(pairs)
        .join(src.toDF("doc_a", "sa"), "doc_a")
        .join(src.toDF("doc_b", "sb"), "doc_b")
        .groupBy(least(col("sa"), col("sb")).as("source_1"),
          greatest(col("sa"), col("sb")).as("source_2"))
        .agg(count(lit(1)).as("n_pairs"),
          round(min(col("jac_raw")), 4).as("min_jac"),
          round(max(col("jac_raw")), 4).as("max_jac"))
        .orderBy(col("source_1"), col("source_2"))
    },

    // Per-source shingle novelty — the content-level complement of the
    // q292 pair matrix: of each source's DISTINCT 3-gram shingles, how
    // many appear in at least one OTHER source (shared boilerplate /
    // mirrored content) vs are unique to it. High shared-fraction sources
    // contribute little novel text no matter their row count — the
    // signal mixture weighting (q103/q108) should see before upsampling.
    // Scale shape: one shingle explode feeds (a) the per-shingle
    // distinct-source count — a partial-agg reduction to the shingle
    // vocabulary, broadcast nothing — and (b) the per-(source, shingle)
    // distinct frame that joins it back on the shingle key; counts are
    // exact BIGINTs and the one ratio rounds at the edge.
    Q("q294_shingle_novelty",
      s"""WITH $jaccardCtes,
        |ds AS (
        |  SELECT DISTINCT d.source, sh.shingle
        |  FROM sh JOIN documents d USING (doc_id)),
        |sc AS (
        |  SELECT shingle, count(*) AS n_src FROM ds GROUP BY 1)
        |SELECT ds.source,
        |       count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN sc.n_src > 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_shared,
        |       round(sum(CASE WHEN sc.n_src > 1 THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 6) AS shared_frac
        |FROM ds JOIN sc USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sh = shingles(Tables.documents(s, d), "text", 3)
      val ds = sh
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("source"), col("shingle")).distinct()
        // ckpt(b): explode frame on both join sides; static estimate is too low
        .eagerCkpt
      val sc = ds.groupBy(col("shingle"))
        .agg(count(lit(1)).as("n_src"))
      ds.join(sc, "shingle")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("n_src") > 1, 1).otherwise(0)).cast("long")
            .as("n_shared"),
          round(sum(when(col("n_src") > 1, 1).otherwise(0))
            .cast("double") / count(lit(1)), 6).as("shared_frac"))
        .orderBy(col("source"))
    },

    // Classifier reliability table + expected calibration error (ECE) —
    // the evaluation-methods pattern every learned quality/language
    // filter needs before its scores gate a corpus: bin a cheap en-ness
    // score (en-stopword token rate, the q28 family's raw signal) into 10
    // fixed-width bins and compare each bin's pooled score ("confidence")
    // against its actual en-label rate ("accuracy"); ECE is the
    // doc-weighted mean |acc − conf|. A well-calibrated score tracks the
    // diagonal; this one demonstrably does not — which is exactly what
    // the table is for. Scale shape: ONE corpus scan reduces to ≤10 rows
    // (bin boundaries are INTEGER cross-multiplied arithmetic —
    // (hits·10) div tokens — so no float sits on a bucket edge); conf/acc
    // are single divisions of exact BIGINTs and ECE folds the ≤10-row
    // frame. FULL hash.
    Q("q295_calibration_ece", {
      val enHits = duckStopHits(stop("en"))
      s"""WITH t AS (
        |  SELECT lang, $enHits AS hits,
        |         len(string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+'))
        |           AS n_toks
        |  FROM documents),
        |b AS (
        |  SELECT CAST(least((hits * 10) // n_toks, 9) AS INT) AS bin,
        |         count(*) AS n_docs,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_en,
        |         CAST(sum(hits) AS BIGINT) AS sum_hits,
        |         CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |  FROM t WHERE n_toks > 0 GROUP BY 1)
        |SELECT bin, n_docs, n_en,
        |       round(CAST(sum_hits AS DOUBLE) / sum_toks, 6) AS conf,
        |       round(CAST(n_en AS DOUBLE) / n_docs, 6) AS acc,
        |       round(sum(abs(CAST(n_en AS DOUBLE) / n_docs
        |                     - CAST(sum_hits AS DOUBLE) / sum_toks)
        |                 * n_docs) OVER ()
        |             / sum(n_docs) OVER (), 6) AS ece
        |FROM b ORDER BY bin""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .withColumn("_toks", tokens(col("text")))
        .select(col("lang"), stopHits(col("_toks"), stop("en")).as("hits"),
          size(col("_toks")).as("n_toks"))
        .filter(col("n_toks") > 0)
      val b = t
        .groupBy(least(expr("(hits * 10) div n_toks"), lit(9L)).cast("int")
          .as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1).otherwise(0)).cast("long")
            .as("n_en"),
          sum(col("hits")).cast("long").as("sum_hits"),
          sum(col("n_toks")).cast("long").as("sum_toks"))
      val conf = col("sum_hits").cast("double") / col("sum_toks")
      val acc = col("n_en").cast("double") / col("n_docs")
      val wAll = Window.partitionBy()
      b.select(col("bin"), col("n_docs"), col("n_en"),
          round(conf, 6).as("conf"), round(acc, 6).as("acc"),
          round(sum(abs(acc - conf) * col("n_docs")).over(wAll)
            / sum(col("n_docs")).over(wAll), 6).as("ece"))
        .orderBy(col("bin"))
    }
  )

  /** q91's per-doc repetition metrics (doc_id, n_toks, n_distinct,
    * dup_tok_frac, top_bigram, top_bigram_n, top_bigram_frac). Docs with
    * fewer than 2 tokens have no bigram and drop out (inner join), matching
    * the oracle. Shared with TextOpsSpec. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .eagerCkpt // ckpt(a): stats + bigrams; unshared, tokenize runs twice
    val base = tok.select(col("doc_id"),
      size(col("w")).cast("long").as("n_toks"),
      size(array_distinct(col("w"))).cast("long").as("n_distinct"))
    val bg = tok.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i + 1),
          element_at(col("w"), i + 2)))).as("bigram"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("c"), asc("bigram"))
    val top = bg.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    base.join(top, "doc_id")
      .select(col("doc_id"), col("n_toks"), col("n_distinct"),
        round((col("n_toks") - col("n_distinct")) /
          col("n_toks").cast("double"), 4).as("dup_tok_frac"),
        col("bigram").as("top_bigram"), col("c").as("top_bigram_n"),
        round(col("c") / (col("n_toks") - 1).cast("double"), 4)
          .as("top_bigram_frac"))
  }

  /** q92's contamination set: doc_ids OUTSIDE the benchmark slice that share
    * at least one word n-gram with a benchmark doc. The benchmark n-gram
    * universe broadcasts (eval suites are MBs, the corpus is TBs), so the
    * corpus side is scanned once and never shuffled. Shared with
    * TextOpsSpec. */
  def contaminatedIds(docs: DataFrame, isBench: Column, n: Int): DataFrame = {
    val sh = shingles(docs, "text", n)
    val benchGrams = sh.filter(isBench).select("shingle").distinct()
    sh.filter(!isBench)
      .join(broadcast(benchGrams), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
  }

  /** SimHash near-dup pairs, production two-stage shape: (1) a 64-bit
    * fingerprint of each doc's SHINGLE SET via the codegen'd
    * graft.functions.SimHash64 — shingles, unlike raw tokens, are
    * near-unique per doc, so random pairs land at Hamming ≈ 32 (measured:
    * 0.1th pct = 19) while true near-dups sit at h ≤ 7; (2) 8×8-bit chunk
    * join for candidates (pigeonhole: h ≤ 7 ⇒ ≥ 1 identical chunk ⇒ the
    * candidate set is complete for true pairs — the Hamming filter uses the
    * SAME bound, so the output is exactly "all pairs at h ≤ 7", not an
    * opportunistic superset), Hamming filter, then exact Jaccard
    * verification against the stored shingle sets (array_intersect — no
    * shingle-key self-join anywhere). This is the 100 TB shape:
    * fingerprints prune 12.5M pairs to a few hundred, verification touches
    * only those. Returns (doc_a, doc_b, hamming, jaccard). */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsFromSets(shingleSets(shingles(Tables.documents(s, d), "text", 3)))

  /** Per-doc shingle sets + their simhash fingerprint, materialized once
    * (the chunk explode and both verification sides re-read it):
    * (doc_id, ss, n_sh, sh). */
  def shingleSets(shingleRows: DataFrame): DataFrame =
    shingleRows
      .groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("ss"))
      .select(col("doc_id"), col("ss"), size(col("ss")).as("n_sh"),
        graft.functions.TextHash.simhash64(col("ss")).as("sh"))
      // ckpt(b): the simhash chunk-vs-variant choice reads its honest size
      .eagerCkpt

  /** Honest-bytes threshold of the shingleSets frame above which the
    * simhash candidate join switches from the 8×8-bit chunk scheme to the
    * 4×16-bit one-error-variant scheme (multi-index Hamming search — the
    * Manku et al. WWW'07 / HmSearch SIGMOD'13 family; public algorithms,
    * own implementation), read at optimizer time
    * ([[graft.plans.AdaptivePlan]]). Both schemes are COMPLETE for the ≤7
    * band, so the plans are output-identical (TextOpsSpec pins it); the
    * switch is pure cost. Why it matters: the 8-bit chunk key has only
    * 2048 distinct values, so enumerated collision pairs grow ~n²/256 —
    * fine for thousands of docs, the dominant term at many millions. The
    * variant scheme pays 17 probe keys per block (the value plus its 16
    * one-bit flips) to join on an 18-bit key space, cutting enumeration
    * ~3.75× per pair budget but paying a FLAT 68-keys/doc probe expansion
    * (17× the chunk scheme's map volume).
    *
    * Round-13 calibration on the honest-stats build (the old 50k-doc
    * crossover was measured with JoinSelection poisoned by ~1 B/row
    * checkpoint estimates): q44, idle box — 50k docs chunk 17.2s vs
    * variant 17.4s; 150k docs 31.5 vs 31.8; 500k docs chunk 96.8s vs
    * variant 122.8s. The chunk scheme wins through every measurable
    * size — the variant's probe expansion costs more than the extra
    * collisions it avoids until the n²/256 term dominates, projected
    * ~1.5M docs (chunk's enumeration grows 3.75× faster; equal-cost
    * extrapolation from the 500k gap). The frame is a [[graft.Ckpt]]
    * eager checkpoint of ~1.9 kB/doc (972 MB at sf10's 500k docs), so the
    * ~1.5M-doc crossover sits at ~3 GB. */
  private[graft] val VariantThresholdBytes = BigInt(3L * 1024 * 1024 * 1024)

  /** Candidate (doc_a, doc_b, hamming ≤ 7) pairs via the 8-chunk exact
    * scheme: pigeonhole — 7 differing bits can dirty at most 7 of the 8
    * 8-bit chunks, so some chunk matches exactly and the equi join finds
    * the pair. The hamming filter runs map-side BEFORE the distinct:
    * collision pairs (same chunk value, far fingerprints) die in codegen
    * for the cost of one XOR+popcount instead of riding the distinct's
    * exchange — at n docs the filter input is ~n²/32 rows and the
    * exchange input only the band survivors. */
  private def simhashCandChunk(sets: DataFrame): DataFrame = {
    val chunksN = 8
    val bitsPer = 64 / chunksN
    val mask = (1L << bitsPer) - 1
    val chunks = sets.select(col("doc_id"), col("sh"),
      posexplode(array((0 until chunksN).map(i =>
        shiftrightunsigned(col("sh"), i * bitsPer).bitwiseAND(lit(mask))): _*)))
      .toDF("doc_id", "sh", "chunk", "ck")
    val a = chunks.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
      col("chunk"), col("ck"))
    val b = chunks.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
      col("chunk"), col("ck"))
    a.join(b, Seq("chunk", "ck")).filter(col("doc_a") < col("doc_b"))
      // <= 7 is the pigeonhole completeness bound for 8 chunks: every pair
      // in the output band is guaranteed found; 8-10 would be found only
      // when a chunk coincidentally matched (opportunistic semantics)
      .withColumn("hamming", expr("bit_count(sha ^ shb)").cast("int"))
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Same ≤7-band candidates via 4×16-bit blocks with one-error probe
    * expansion: ≤7 errors across 4 blocks put ≤⌊7/4⌋ = 1 error in SOME
    * block, so either that block matches exactly or flipping exactly one
    * probe-side bit makes it match — the probe side emits each block
    * value plus its 16 one-bit flips (68 keys/doc), the build side only
    * exact values (4 keys/doc), and the join key is (block, 16-bit
    * value). One-sided expansion suffices because every doc sits on both
    * sides: for a pair (x < y) the clean block joins x's variant list to
    * y's exact value. */
  private def simhashCandVariant(sets: DataFrame): DataFrame = {
    val blocks = 4
    val bitsPer = 64 / blocks
    val mask = (1L << bitsPer) - 1
    def blockVal(i: Int) =
      shiftrightunsigned(col("sh"), i * bitsPer).bitwiseAND(lit(mask))
    val base = sets.select(col("doc_id"), col("sh"),
      posexplode(array((0 until blocks).map(blockVal): _*)))
      .toDF("doc_id", "sh", "blk", "bv")
    val probes = sets.select(col("doc_id"), col("sh"),
      posexplode(array((0 until blocks).map { i =>
        val v = blockVal(i)
        array(v +: (0 until bitsPer).map(j =>
          v.bitwiseXOR(lit(1L << j))): _*)
      }: _*)))
      .toDF("doc_id", "sh", "blk", "vs")
      .select(col("doc_id"), col("sh"), col("blk"),
        explode(col("vs")).as("bv"))
    val a = probes.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
      col("blk"), col("bv"))
    val b = base.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
      col("blk"), col("bv"))
    a.join(b, Seq("blk", "bv")).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sha ^ shb)").cast("int"))
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** SimHash pairs over a prebuilt shingleSets frame (shareable with the
    * exact reference and the band membership check in q44). ADAPTIVE like
    * [[exactJaccardPairsFrom]]: candidate generation switches plans at
    * [[VariantThresholdBytes]] or under df skew — both plans are exact for
    * the ≤7 band, so the output is plan-independent. The decision is the
    * optimizer-time stats read ([[graft.plans.AdaptivePlan]], zero jobs
    * at construction). */
  def simhashPairsFromSets(sets: DataFrame): DataFrame =
    simhashPairsFromSetsImpl(sets, VariantThresholdBytes, AmpProbeFloorBytes)

  /** [[simhashPairsFromSets]] with the byte threshold and probe floor
    * exposed for the TextOpsSpec forced-branch pins (thresholdBytes 0
    * forces the variant scheme, floorBytes 0 forces the probe on). */
  private[graft] def simhashPairsFromSetsImpl(sets: DataFrame,
      thresholdBytes: BigInt, floorBytes: BigInt): DataFrame = {
    // the probe key stream is the exploded shingle sets — the same
    // corpus-shape statistic as the jaccard site (skewed templates
    // correlate the fingerprints, which is exactly what floods the
    // chunk join with collisions), at the same measured crossover
    val cand = graft.plans.AdaptivePlan.choose(sets.sparkSession,
      simhashCandChunk(sets), simhashCandVariant(sets),
      sets, thresholdBytes,
      Some(ampProbe(sets.select(col("doc_id"),
        explode(col("ss")).as("shingle")), floorBytes)))
    val jac = rawJaccard
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ssa"),
        col("n_sh").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ssb"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ssa"), col("ssb"))))
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        round(jac, 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing near-dup pairs: graft.functions.Winnow emits each doc's
    * fingerprint set map-side (rolling 16-gram polynomial hash, window-of-8
    * minima — at k=8 the median fingerprint hit 19 docs of this
    * template-heavy corpus and carried no signal; at k=16 the median
    * fingerprint is unique), the candidate join runs on the 8-byte
    * fingerprints, pairs are scored by fingerprint overlap — local
    * similarity that survives insertions and reorderings whole-document
    * hashing (q31/q32) cannot. Returns (doc_a, doc_b, shared, overlap). */
  def winnowPairs(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextHash.winnow(col("text"), 16, 8)).as("fp"))
    // stop-fingerprint filter (standard winnowing practice): a fingerprint
    // present in many docs is boilerplate, not duplication signal, and
    // quadratically inflates the candidate join; overlap is measured on
    // the surviving (discriminative) fingerprint universe
    val rare = ex.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10).select("fp")
    // ckpt(a): four consumers; unshared, the plan ran 16 parquet scans
    val exRare = ex.join(rare, "fp").eagerCkpt
    val cnt = exRare.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val a = exRare.toDF("fp", "doc_a")
    val b = exRare.toDF("fp", "doc_b")
    val overlap = col("shared") / least(col("na"), col("nb"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(cnt.toDF("doc_a", "na"), "doc_a")
      .join(cnt.toDF("doc_b", "nb"), "doc_b")
      // ratio + absolute-support floor: a 2-of-3 coincidence is not a
      // near-dup; winnowing guarantees ≥1 shared fp per shared substring
      // of length ≥ w+k−1, so real duplication shares many
      .filter(overlap >= 0.5 && col("shared") >= 8)
      .select(col("doc_a"), col("doc_b"), col("shared").cast("long").as("shared"),
        round(overlap, 4).as("overlap"))
      .orderBy("doc_a", "doc_b")
  }
}
