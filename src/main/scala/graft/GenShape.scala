package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Dev utility: synthesize an adversarial-shape copy of a testdata SF dir.
  * Each shape rewrites only `documents` (testdata schema doc_id, text,
  * lang, source, n_chars; same lang/source value universes) and copies
  * the other nine tables byte-identical from `src`, then prints the shape
  * report — the numbers that justify the corpus's existence.
  *
  *   sbt "runMain graft.GenShape <skew|long|mix|chain|blob> <src> <out> [mult] [chainLen]"
  *   sbt "runMain graft.GenShape skew <testdata>/sf0.1 /tmp/skew01 1"
  *
  * mult multiplies the document count (ids stay dense 0..n·mult−1).
  * NOTE on mult>1: embeddings/events are copied unscaled, so doc_id↔
  * vec_id coverage thins — fine for the text/pair families these corpora
  * exist to stress; use mult=1 for a full-board oracle run. chainLen is
  * the chain shape's family length (default 64).
  *
  * Determinism: every random choice is xxhash64 of (doc_id, position,
  * salt) or pure arithmetic on doc_id — same output rows for the same
  * (shape, src, mult, chainLen) on every run.
  */
object GenShape {

  private val Templates = 1000 // boilerplate / CJK-run template vocabulary

  def main(args: Array[String]): Unit = {
    val (shape, src, out) = (args(0), args(1), args(2))
    val mult = if (args.length > 3) args(3).toInt else 1
    val chainLen = if (args.length > 4) args(4).toInt else 64
    require(Set("skew", "long", "mix", "chain", "blob")(shape),
      s"unknown shape '$shape': expected skew|long|mix|chain|blob")
    require(mult >= 1 && chainLen >= 2)
    val tag = s"[gen$shape]"
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(out))

    val nDocs =
      if (shape == "blob") BlobDocsPerMult.toLong * mult
      else Tables.load(spark, src, "documents").count() * mult
    val d = col("doc_id")
    val (text, lang) = shape match {
      case "skew" => (skewText(d), testdataLang(d))
      case "long" => (longText(d), testdataLang(d))
      case "mix" => mixDoc(d)
      case "chain" => (chainText(d, chainLen), testdataLang(d))
      case "blob" => (blobText(d), testdataLang(d))
    }
    val docs = spark.range(0, nDocs).select(
        col("id").as("doc_id"), text.as("text"), lang.as("lang"),
        concat(lit("src"), pmod(xxhash64(d, lit("srcn")), lit(20L)))
          .as("source"))
      .withColumn("n_chars", length(col("text")))
    writeTable(docs, out, "documents")
    println(s"$tag documents x$mult ($nDocs docs) -> $out/documents.parquet")

    Tables.names.filterNot(_ == "documents").foreach { t =>
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$out/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      println(s"$tag $t copied from $src")
    }

    val report = shape match {
      case "skew" => skewReport(spark, out)
      case "long" => longReport(spark, out)
      case "mix" => mixReport(spark, out)
      case "chain" => chainReport(spark, out, nDocs, chainLen)
      case "blob" => blobReport(spark, out, nDocs)
    }
    report.foreach(line => println(s"$tag $line"))
    spark.stop()
  }

  /** Write `df` as ONE `<out>/<name>.parquet` file — the testdata layout
    * `Tables.load` expects — via a single-part temp dir and a rename. */
  private[graft] def writeTable(df: DataFrame, out: String, name: String): Unit = {
    val tmp = s"$out/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    import scala.jdk.CollectionConverters._
    // close the directory stream (fd leak otherwise — one per table)
    val part = scala.util.Using.resource(Files.list(Paths.get(tmp))) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
    }
    Files.move(part, Paths.get(s"$out/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.streaming.EventStreams.wipe(Paths.get(tmp))
  }

  // ---- shared column helpers ----

  /** Hash-derived uniform in [0,1): pmod(xxhash64(...), 2^30) / 2^30. */
  private def unif(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(1L << 30)).cast("double") / (1L << 30)

  /** One token from a literal vocabulary, hash-picked. */
  private def pick(vocab: Seq[String], cols: Column*): Column =
    element_at(array(vocab.map(lit): _*),
      (pmod(xxhash64(cols: _*), lit(vocab.size.toLong)) + 1).cast("int"))

  /** The testdata corpus's lang draw: en-heavy over {en,zh,es,fr,de}. */
  private def testdataLang(d: Column): Column =
    pick(Seq("en", "en", "en", "en", "zh", "es", "fr", "de"), d, lit("lang"))

  /** One boilerplate block: 8 tokens "b<rank>t<j>" (one token shape, so
    * the skew and long boards' template shingles are comparable). */
  private def block(rank: Column): Column =
    concat_ws(" ", (1 to 8).map(j => concat(lit("b"), rank,
      lit(s"t$j"))): _*)

  /** A run of `n` per-document-unique filler tokens "u<doc>p<from+j>". */
  private def filler(docId: Column, from: Long, n: Column): Column =
    concat_ws(" ", transform(sequence(lit(from), lit(from - 1) + n),
      j => concat(lit("u"), docId, lit("p"), j)))

  /** ~1% of docs are near-dups of their predecessor: every keyed part
    * except the doc's own tail derives from `base` = doc_id−1. Chained
    * dups (base is itself a dup, P≈1e-4) simply don't match — fewer
    * pairs, never wrong ones. */
  private def dupBase(d: Column): Column = {
    val isDup = d > 0 && pmod(xxhash64(d, lit("dup")), lit(100L)) === 0
    when(isDup, d - 1).otherwise(d)
  }

  /** The doc's own unique tail length, 4..36 tokens, keyed by its OWN id. */
  private def tailLen(d: Column): Column =
    lit(4L) + pmod(xxhash64(d, lit("len")), lit(33L))

  // ---- skew ----

  /** Zipfian shingle document-frequency (round-14, VERDICT r13 directive
    * 3) — the shape the adaptive exact-Jaccard/SimHash thresholds were
    * never measured on. The flat-df testdata corpus (max shingle df 25, Σdf²
    * linear in corpus size) is the direct shared-shingle plan's best case;
    * real web text carries boilerplate (headers, licenses, navigation)
    * whose shingles appear in millions of documents, making the direct
    * plan's Σdf² enumeration quadratic in df while the PPJoin rarest-first
    * prefix excludes exactly those shingles. This shape reproduces that
    * deterministically so the direct-vs-prefix crossover can be MEASURED
    * instead of argued.
    *
    * Each document is mostly unique filler tokens (so verified near-dup
    * pairs stay RARE — the stress lands on candidate generation, not on a
    * blown-up answer) plus three boilerplate blocks of 8 tokens drawn
    * from [[Templates]] templates with Zipf(1) probability P(rank r) ∝ 1/r
    * via inverse-CDF r = ⌊T^u⌋ on a hash-derived uniform u. Template
    * blocks repeat verbatim across documents, so each template's
    * block-internal shingles have document frequency ≈ its draw count —
    * df(rank r) ≈ (docs·3)/(r·H_T): at mult=10 (50k docs) the hottest
    * shingle sits in ~20k documents vs 25 on the flat corpus.
    *
    * Near-dup pairs share their first 48 tokens (46 shingles) and differ
    * only in the two unique tails — about half of them land at Jaccard ≥
    * 0.5, giving the q27/q44 oracles NONZERO verified output on this
    * shape (0=0 would be sterile evidence). The tail is split from the
    * three blocks by fillers so block boundaries always meet unique
    * tokens (boundary shingles df≈1; only the 6 block-INTERNAL shingles
    * per block carry the Zipfian df). */
  private def skewText(d: Column): Column = {
    val base = dupBase(d)
    // Zipf(1) template rank in 1..T-1 by inverse CDF: ⌊T^u⌋
    def zipfRank(i: Int) = floor(pow(lit(Templates.toDouble),
      unif(base, lit(i), lit("tpl")))).cast("long")
    concat_ws(" ",
      filler(base, 1, lit(8)), block(zipfRank(1)),
      filler(base, 9, lit(8)), block(zipfRank(2)),
      filler(base, 17, lit(8)), block(zipfRank(3)),
      filler(d, 25, tailLen(d)))
  }

  private def skewReport(spark: SparkSession, out: String): Seq[String] = {
    val sh = ops.TextOps.shingles(Tables.documents(spark, out), "text", 3)
    val shape = sh.groupBy("shingle").agg(count(lit(1)).as("df")).agg(
      count(lit(1)).as("shingles"),
      sum(col("df")).as("rows"),
      max(col("df")).as("max_df"),
      sum(col("df") * col("df")).as("sum_df2")).head()
    Seq(s"shingle shape: distinct=${shape.getLong(0)} " +
      s"rows=${shape.getLong(1)} max_df=${shape.getLong(2)} " +
      s"sum_df2=${shape.getLong(3)} (flat corpus max_df≈25)")
  }

  // ---- long ----

  private val Alpha = 1.1 // Pareto shape: heavy tail, finite mean
  private val MinTokens = 40L
  private val CapTokens = 30000L

  /** Pareto-tailed per-document LENGTH (round-14, VERDICT r13 directive 8
    * stretch). The testdata corpus is uniformly short (mean 54 tokens, max
    * 100) and the skew board stresses shingle df at the same short
    * lengths — neither exercises the per-document axis a real pretraining
    * mix has: books and code files thousands of times longer than the
    * median page. Length is its own failure mode, orthogonal to df: a
    * single input row that explodes into 30k shingle/gram/window rows
    * (partition skew no byte statistic on the INPUT predicts), per-pair
    * verify kernels whose cost is the SET SIZE (a near-dup pair of
    * 30k-token docs costs 500× the median pair), window functions ordered
    * within a 30k-element document, and sequence-packing/truncation paths
    * whose tail behavior is invisible when every doc fits the context.
    *
    * Token count per document is Pareto(α = 1.1, L_min = 40) by inverse
    * CDF len = L_min / (1−u)^(1/α), capped at 30000 — mean ≈ 430, p99 ≈
    * 2600, a handful of cap-length giants per 5k docs. Each doc is its own
    * unique filler tokens (df = 1 — the stress is length, NOT df; the
    * skew board owns that axis) plus three 8-token boilerplate blocks
    * drawn UNIFORMLY from 1000 templates (df ≈ 15 at 5k docs, the flat
    * corpus's regime) so banding/candidate paths stay exercised. The ~1%
    * near-dups ([[dupBase]]) at THIS shape include near-dup pairs of
    * cap-length documents — the exact-Jaccard verify kernel's worst case. */
  private def longText(d: Column): Column = {
    val base = dupBase(d)
    // uniform template rank in 0..Templates−1 (flat df — the length axis
    // must not smuggle in the skew axis)
    def tplRank(i: Int) =
      pmod(xxhash64(base, lit(i), lit("tpl")), lit(Templates.toLong))
    // Pareto(α) token count by inverse CDF, capped; u < 1 by construction
    // so the pow denominator never hits zero
    val paretoLen = least(lit(CapTokens),
      floor(lit(MinTokens.toDouble) / pow(lit(1.0) - unif(base, lit("plen")),
        lit(1.0 / Alpha))).cast("long"))
    // bulk = Pareto(base) minus the 24 block tokens and 24 leading filler
    // tokens; floor at 0 so short draws degenerate to the block scaffold
    val bulk = greatest(lit(0L), paretoLen - 48L)
    concat_ws(" ",
      filler(base, 1, lit(8)), block(tplRank(1)),
      filler(base, 9, lit(8)), block(tplRank(2)),
      filler(base, 17, lit(8)), block(tplRank(3)),
      filler(base, 25, bulk),
      // tail `from` sits past any reachable bulk index (25 + 30000)
      // so a dup's own tokens never collide with base-keyed bulk
      filler(d, 40000, tailLen(d)))
  }

  private def longReport(spark: SparkSession, out: String): Seq[String] = {
    val shape = Tables.documents(spark, out)
      .select(size(split(col("text"), "[ \t\n\f\r]+")).cast("long").as("n"))
      .agg(count(lit(1)).as("docs"), sum(col("n")).as("tokens"),
        max(col("n")).as("max_tok"),
        expr("percentile(n, 0.5)").as("p50"),
        expr("percentile(n, 0.99)").as("p99")).head()
    Seq(s"length shape: docs=${shape.getLong(0)} " +
      s"tokens=${shape.getLong(1)} max=${shape.getLong(2)} " +
      s"p50=${shape.getDouble(3)} p99=${shape.getDouble(4)} " +
      s"(driver corpus: mean 54, max 100)")
  }

  // ---- mix ----

  /** 1000 deterministic 12-char CJK template runs (chars from the same
    * U+4E00.. block the classifier's regexp matches). Constant-folded
    * into the plan as literals. */
  private val cjkTemplates: IndexedSeq[String] =
    (0 until Templates).map { r =>
      new String((0 until 12).map(j => (0x4E00 + (r * 31 + j * 7) % 2000)
        .toChar).toArray)
    }

  /** The q28 classifier's own stopword lists (TextOps.stop is private;
    * duplicated here on purpose — the corpus only needs to SUPPLY words
    * the classifier scores, and if the lists ever drift the mix board's
    * confusion matrix changes visibly rather than silently). */
  private val stops = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"))

  private def unif100(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(100L))

  /** Latin-language body: 12 (unique-filler, stopword) token pairs — every
    * 3-shingle spans a unique token, so df never leaves the dup-pair
    * regime while stopword hits dominate the classifier score. */
  private def latinBody(lang: String, base: Column): Column =
    concat_ws(" ", (1 to 12).flatMap { i =>
      Seq(concat(lit("u"), base, lit(s"p$i")): Column,
        pick(stops(lang), base, lit(i), lit(s"sw$lang")))
    }: _*)

  /** zh body: unique fillers around three no-whitespace CJK template runs
    * (each run = ONE token to the whitespace tokenizer). */
  private def zhBody(base: Column): Column = {
    def run(i: Int) = pick(cjkTemplates, base, lit(i), lit("cjk"))
    concat_ws(" ",
      filler(base, 1, lit(4)), run(1),
      filler(base, 5, lit(4)), run(2),
      filler(base, 9, lit(4)), run(3),
      filler(base, 13, lit(4)))
  }

  /** Many-language mix (round-14, VERDICT r13 directive 8 — third shape).
    * The testdata corpus's `text` is synthetic latin filler for every row,
    * so the q28/q88 language classifier degenerates (almost everything
    * scores 'unknown'), the per-lang group-bys see a benign 8-way split,
    * and no document exercises the CJK branch or the no-whitespace
    * tokenization edge. This shape makes the LANGUAGE axis real while
    * deliberately keeping the other two stress axes flat (df: every
    * word-3-shingle contains a per-document-unique filler token, so
    * shingle df stays ≤ 2 for dup pairs plus a bounded uniform template
    * df — the skew board owns the df axis; length: base-like short docs —
    * the long board owns the length axis):
    *
    *  - content language per doc: zh 45%, en 20%, es 12%, fr 10%, de 8%,
    *    none 5% — a HEAVILY skewed mix (the zh majority skews every
    *    per-lang aggregate and the (source, lang) mixture frames).
    *  - zh documents carry three 12-char CJK template runs (drawn
    *    uniformly from 1000 templates) with NO internal whitespace — each
    *    run is ONE 12-char token to the whitespace tokenizer, exercising
    *    the CJK regexp branch of the classifier and the
    *    many-chars-per-token regime everywhere chars/token is computed.
    *  - latin documents interleave unique fillers with REAL stopwords of
    *    their content language (the same 7-word lists the classifier
    *    scores, hardcoded here deliberately: the classifier is the thing
    *    under test, the corpus just supplies discriminative material).
    *  - the `lang` LABEL is the content language 95% of the time and a
    *    uniform draw otherwise (and always a uniform draw for content-free
    *    docs) — so the q28 confusion matrix gains real off-diagonal mass
    *    instead of being trivially diagonal.
    *  - ~1% near-dups of the predecessor ([[dupBase]] keys every shared
    *    part, so dup pairs share their content language and text blocks).
    *
    * Returns (text, lang). */
  private def mixDoc(d: Column): (Column, Column) = {
    val base = dupBase(d)
    // content language, keyed by base so dup pairs share it:
    // zh 45 / en 20 / es 12 / fr 10 / de 8 / none 5
    val cl = unif100(base, lit("clang"))
    val contentLang = when(cl < 45, "zh").when(cl < 65, "en")
      .when(cl < 77, "es").when(cl < 87, "fr").when(cl < 95, "de")
      .otherwise("none")
    val body = when(contentLang === "zh", zhBody(base))
      .when(contentLang === "en", latinBody("en", base))
      .when(contentLang === "es", latinBody("es", base))
      .when(contentLang === "fr", latinBody("fr", base))
      .when(contentLang === "de", latinBody("de", base))
      .otherwise(filler(base, 1, lit(24)))
    // label: content language 95% of the time; uniform over the five
    // real labels otherwise (always uniform for content-free docs) —
    // keyed by the doc's OWN id so a dup and its base can disagree
    val misdraw = unif100(d, lit("mis")) < 5
    val randLabel = pick(Seq("en", "zh", "es", "fr", "de"), d, lit("rl"))
    (concat_ws(" ", body, filler(d, 1000, tailLen(d))),
      when(contentLang === "none" || misdraw, randLabel)
        .otherwise(contentLang))
  }

  private def mixReport(spark: SparkSession, out: String): Seq[String] = {
    // label distribution × the engine's own classifier view
    val rep = ops.TextOps.withPredictedLang(Tables.documents(spark, out))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"))
    "top label × predicted cells:" +: rep.limit(12).collect().toSeq.map(r =>
      s"  ${r.getString(0)} -> ${r.getString(1)}: ${r.getLong(2)}")
  }

  // ---- chain ----

  private val Window = 40 // tokens per doc
  private val Stride = 8 // token offset between adjacent positions

  /** Near-dup CHAINS (round-14, fourth shape). The other shape boards
    * stress candidate GENERATION (df skew, doc length, language mix) but
    * every near-dup component in them is a 2-doc pair or a small template
    * clique — transitive CLUSTERING never has to work. Real corpora do the
    * opposite all the time: versioned pages, serial crawls and incremental
    * edits form LONG CHAINS where only ADJACENT revisions clear the
    * similarity threshold, and the component is the transitive closure —
    * the regime where a dedup pipeline's connected-components step earns
    * its O(log diameter) bound (Graph.scala's pointer jumping; GraphSpec
    * pins the algorithm on a synthetic chain, this corpus drives the WHOLE
    * pipeline through it: shingle → pair → cluster → canonical-keep →
    * savings).
    *
    * Construction: documents partition into families of `chainLen`
    * consecutive doc_ids; doc at family position p carries tokens
    * [p·Stride, p·Stride + Window) of its family's token stream
    * ("f<family>t<j>"). Adjacent positions overlap in Window − Stride
    * tokens; with 3-gram shingles that puts adjacent pairs at Jaccard
    * 30/46 ≈ 0.652 (≥ the 0.5 near-dup threshold) and skip-one pairs at
    * 22/54 ≈ 0.407 (< 0.5) — so the j ≥ 0.5 near-dup graph is EXACTLY a
    * length-(chainLen−1) path per family, and the true clusters are
    * chainLen-doc components of diameter chainLen−1 (default 64; 1024
    * drives the pipeline at GraphSpec's depth-10³ pointer-jump regime
    * end-to-end). Every family token's df is ≤ Window/Stride = 5 (bounded
    * — the pair enumeration stays linear; the stress lands on the
    * CLUSTERING, not the candidate join), and no two docs are
    * byte-identical (windows differ). j ≥ 0.9 queries correctly find ZERO
    * pairs here (adjacent tops out at 0.652) — their oracles agreeing on
    * empty is itself evidence. */
  private def chainText(d: Column, chainLen: Int): Column = {
    // integer `div`, not `/`: Column `/` is double division, which is only
    // exact for doc_id < 2^53/chainLen — family boundaries (and the
    // adjacent-pair J=0.652 design that depends on them) must hold for
    // ANY long doc_id (ADVICE r14)
    val fam = expr(s"doc_id div $chainLen")
    val pos = pmod(d, lit(chainLen.toLong))
    concat_ws(" ", transform(
      sequence(pos * Stride, pos * Stride + (Window - 1)),
      j => concat(lit("f"), fam, lit("t"), j)))
  }

  private def chainReport(spark: SparkSession, out: String, nDocs: Long,
      chainLen: Int): Seq[String] = {
    // the exact-Jaccard pair graph IS the design — count adjacent (must be
    // (chainLen-1) per full family) and any non-adjacent pairs at j >= 0.5
    // (must be zero)
    val sh = ops.TextOps.shingles(Tables.documents(spark, out), "text", 3)
    val pairs = ops.TextOps.exactJaccardPairsFrom(sh, minJac = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val adj = pairs.filter(col("doc_b") === col("doc_a") + 1).count()
    val nonAdj = pairs.filter(col("doc_b") =!= col("doc_a") + 1).count()
    Seq(s"j>=0.5 pairs: adjacent=$adj (expect ~" +
      s"${nDocs * (chainLen - 1) / chainLen}), non-adjacent=$nonAdj " +
      "(expect 0) -> components are pure paths of diameter " +
      s"${chainLen - 1}")
  }

  // ---- blob ----

  private val BlobDocsPerMult = 1000
  private val HashesPerTok = 4 // 4 x ~16 hex chars = ~64-char tokens

  /** BLOB MASS (round-15, fifth shape). The four other shape boards all
    * stress the text/graph families; the multimodal family (q42/q43/q55 —
    * binary payload metadata, stub decode, frame sampling) had only ever
    * seen the testdata corpus, where the median "payload" is ~300 BYTES.
    * Real multimodal corpora invert that: few rows, payloads of 10⁵–10⁷
    * bytes each, and total cost dominated by bytes moved and scanned, not
    * by row count — the regime where per-partition batching, opaque-binary
    * columns (never stringified), and one-scan fused extraction either pay
    * off or fall over (VERDICT r14 directive 6).
    *
    * Construction: 1000·mult documents (not the source's count), each a
    * payload of ~1.5k–4.6k tokens of 64 hex chars (4 concatenated xxhash64
    * draws), so payloads run ~100–300 KB — ~450× the testdata corpus
    * per-doc, ~90× its total byte mass at mult=1 from 5× FEWER rows. 1% of
    * docs (family position 99 of each 100) byte-duplicate their
    * predecessor's payload, so exact-dedup / savings queries stay
    * non-degenerate at blob mass. Token content is unique per (seed doc,
    * position) — cross-doc shingle df is 1 apart from the duplicate pairs,
    * so the near-dup pair family is near-empty BY DESIGN (its oracles
    * agreeing on tiny results is itself evidence; the stress here is byte
    * mass, not candidate generation). lang / source derive from doc_id,
    * NOT the payload seed — duplicate payloads may disagree on metadata,
    * as real mirrored media do. */
  private def blobText(d: Column): Column = {
    // payload seed: position 99 of each 100-doc family reuses its
    // predecessor's seed -> byte-identical payload, distinct doc_id
    val seed = when(pmod(d, lit(100L)) === 99, d - 1).otherwise(d)
    // 1536..4607 tokens/doc (uniform via a hash draw) ~> 100-300 KB
    val nTok = pmod(xxhash64(seed, lit("blen")), lit(3072L)) + lit(1536L)
    val tok = (j: Column) => concat(
      (0 until HashesPerTok).map(k =>
        hex(xxhash64(seed, lit("btok"), j, lit(k)))): _*)
    concat_ws(" ", transform(sequence(lit(0L), nTok - 1), tok))
  }

  private def blobReport(spark: SparkSession, out: String,
      nDocs: Long): Seq[String] = {
    // byte mass is the design — and the 1% duplicate families must be
    // EXACT (distinct payloads == nDocs - nDocs/100). The scan MUST be
    // batch-bounded: at mult=10 the default 4096-row vector wants ~a row
    // group's 100+ MB of payload contiguous per task and the
    // reserve-doubling kills a default-heap JVM (round-16 find)
    Tables.tuneVectorBatch(spark, out)
    val st = Tables.documents(spark, out).agg(
      count(lit(1)).as("docs"),
      sum(length(col("text"))).as("bytes"),
      min(length(col("text"))).cast("long").as("minb"),
      max(length(col("text"))).cast("long").as("maxb"),
      count_distinct(col("text")).as("distinct_payloads")).head()
    Seq(s"${st.getLong(0)} docs, ${st.getLong(1)} payload " +
      s"bytes (per-doc ${st.getLong(2)}..${st.getLong(3)}), " +
      s"${st.getLong(4)} distinct payloads (expect " +
      s"${nDocs - nDocs / 100}) -> $out/documents.parquet")
  }
}
