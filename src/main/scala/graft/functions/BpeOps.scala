package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Total BPE symbol count of a token array after applying a fixed merge
  * list — the per-document kernel of tokenizer-budget accounting (q155):
  * `(array<string> tokens, array<string> rules) → bigint`, where `rules`
  * is a FOLDABLE flattened pair list `[lhs₁, rhs₁, lhs₂, rhs₂, …]` (the
  * trainer's merge table, driver-side metadata exactly like the q48 IVF
  * cells).
  *
  * Why a custom expression (SURVEY.md §2.7 extension surface): the
  * composed-HOF form — wrap every code point in spaces, run one
  * `replace(' a  b ', ' ab ')` per rule, split and count — is exact but
  * allocation-bound: per TOKEN it builds a 3×-inflated string, six
  * intermediate replace copies, and two throwaway arrays, and `transform`/
  * `aggregate` are CodegenFallback so every element crosses the
  * interpreted boundary. On a payload corpus (blob shape: 64-char
  * high-entropy tokens, hundreds of MB of them) that churn IS the query
  * (BENCH_BLOB_r16 q155 = 218 s, the largest number on any committed
  * board). This kernel does the identical computation in one pass per
  * rule over a reused symbol array — no string inflation, no regex, no
  * per-element boxing — and stays inside whole-stage codegen.
  *
  * Exact semantics (value-identical to the HOF form it replaces; pinned
  * both ways in BpeOpsSpec and by the unchanged FULL-hash q155 oracle):
  *  - a token splits into CODE POINTS — `split(t, '')` advances one code
  *    point per empty match (Java regex `Matcher` semantics, which
  *    Spark's `StringSplit` inherits), so supplementary-plane characters
  *    are one symbol there and one symbol here;
  *  - each rule (a, b) merges adjacent symbol pairs LEFT-TO-RIGHT,
  *    NON-OVERLAPPING, on the sequence the rule pass started with — a
  *    merged symbol is not reconsidered as the left element within the
  *    same pass. This is exactly `replace(s, ' a  b ', ' ab ')` on the
  *    space-wrapped encoding: replace scans the source left to right,
  *    resumes AFTER each consumed match, and never rescans replacement
  *    text, and the double-space separators make pattern hits and symbol
  *    adjacency coincide (symbols never contain spaces — see
  *    Profiling.bpeMerges' encoding lemma);
  *  - null token array, or a null element inside it → NULL (the HOF
  *    form's `acc + NULL` poisoning);
  *  - rules apply in list order, later rules over earlier rules' output.
  *
  * Scale shape: the rules array is bounded metadata (6 entries on q155;
  * tokenizers cap at ~50k) broadcast inside the serialized expression;
  * the corpus side is one map-side pass, so nothing but per-source
  * partial aggregates ever shuffles — unchanged from the HOF plan, only
  * the per-byte constant drops.
  */
case class BpeSymbolSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _))
        if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable rules array (the merge table is " +
          "plan-time metadata, not data)")
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bpe_symsum"

  private def elementsNullable: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull

  /** (lhs, rhs, lhs+rhs) per rule, parsed once per task from the foldable
    * rules child. */
  @transient private lazy val ruleArr: Array[(String, String, String)] = {
    val ad = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    require(ad != null && ad.numElements() % 2 == 0,
      s"$prettyName: rules array must be non-null with even length " +
        "[lhs1, rhs1, lhs2, rhs2, ...]")
    Array.tabulate(ad.numElements() / 2) { k =>
      val a = ad.getUTF8String(2 * k)
      val b = ad.getUTF8String(2 * k + 1)
      require(a != null && b != null, s"$prettyName: null rule symbol")
      (a.toString, b.toString, a.toString + b.toString)
    }
  }

  /** Symbol count of one token after all merge passes. */
  private def countSymbols(tok: UTF8String): Long = {
    val s = tok.toString
    // code-point split — one symbol per code point (see scaladoc)
    var n = 0
    val syms = new Array[String](s.codePointCount(0, s.length))
    var i = 0
    while (i < s.length) {
      val w = Character.charCount(s.codePointAt(i))
      syms(n) = s.substring(i, i + w)
      n += 1
      i += w
    }
    val rules = ruleArr
    var r = 0
    while (r < rules.length) {
      val (a, b, ab) = rules(r)
      var rd = 0
      var wr = 0
      while (rd < n) {
        if (rd + 1 < n && syms(rd) == a && syms(rd + 1) == b) {
          syms(wr) = ab // merged pair consumed; not re-matched this pass
          rd += 2
        } else {
          syms(wr) = syms(rd)
          rd += 1
        }
        wr += 1
      }
      n = wr
      r += 1
    }
    n.toLong
  }

  /** Boxed sum over the token array; null on a null element (codegen and
    * interpreted paths share this kernel). */
  def sumOrNull(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val checkNulls = elementsNullable
    var total = 0L
    var i = 0
    while (i < n) {
      if (checkNulls && arr.isNullAt(i)) return null
      total += countSymbols(arr.getUTF8String(i))
      i += 1
    }
    java.lang.Long.valueOf(total)
  }

  override def nullSafeEval(tokens: Any, rules: Any): Any =
    sumOrNull(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the merge loop is data-dependent on the rules metadata — reference
    // the expression instance and call the shared kernel; the call sits
    // inside whole-stage codegen (one virtual call per ROW, the per-token
    // loop stays in compiled scala)
    val self = ctx.addReferenceObj("bpeSymSum", this,
      classOf[BpeSymbolSum].getName)
    nullSafeCodeGen(ctx, ev, (tokens, _) => {
      val boxed = ctx.freshName("bpeTotal")
      s"""
         |java.lang.Long $boxed = $self.sumOrNull($tokens);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact weighted adjacent-pair counts over space-wrapped symbol strings —
  * the q142 trainer's pair-statistics pass as ONE mergeable typed
  * aggregate: `(s: ' a  b  c ', freq) → map<'a b', Σfreq>`.
  *
  * Why an Aggregator (SURVEY.md §2 extension surface, the SpaceSavingTopK
  * economics): the declarative form — `split` the encoded string, HOF-zip
  * adjacent slices into pair strings, `explode`, `groupBy(pair).sum(freq)`
  * — is exact but materializes one ROW per symbol adjacency before the
  * hash aggregate collapses them. On the blob-shape vocabulary (3.1M
  * unique 64-char hex types → ~190M pair rows feeding a 256-entry result)
  * that interpreted explode chain was 102 s of q142's 129 s, measured
  * phase by phase (BENCH_NOTES r17). This aggregate walks each encoded string
  * once, updating a per-partition hash map in place — the pair stream
  * never exists as rows; only the ≤|symbols|² partial maps merge across
  * partitions. Value-identical to the explode form: same Σfreq per
  * adjacent pair, every occurrence counted (a word 'aaa' contributes
  * (a,a) twice), longs throughout.
  *
  * Parse contract: input strings are the bpeMerges encoding — single
  * space at both ends, exactly two spaces between symbols, symbols
  * non-empty and space-free (the encoding lemma). Null inputs are ignored
  * (Spark aggregate convention); single-symbol words contribute nothing.
  */
class BpePairCounts
    extends org.apache.spark.sql.expressions.Aggregator[
      (String, Long), java.util.HashMap[String, Array[Long]],
      Map[String, Long]]
    with Serializable {

  override def zero: java.util.HashMap[String, Array[Long]] =
    new java.util.HashMap[String, Array[Long]]()

  private def add(m: java.util.HashMap[String, Array[Long]],
      pair: String, freq: Long): Unit = {
    val cur = m.get(pair)
    if (cur == null) m.put(pair, Array(freq)) else cur(0) += freq
  }

  override def reduce(m: java.util.HashMap[String, Array[Long]],
      in: (String, Long)): java.util.HashMap[String, Array[Long]] = {
    val (s, freq) = in
    if (s != null && s.length > 2) {
      // scan ' a  b  c ': a symbol ends where a double space (or the
      // final single space) begins; symbols never contain spaces
      var start = 1
      var prev: String = null
      var i = 1
      val end = s.length - 1
      while (i < end) {
        if (s.charAt(i) == ' ' && i + 1 < end && s.charAt(i + 1) == ' ') {
          val sym = s.substring(start, i)
          if (prev != null) add(m, prev + " " + sym, freq)
          prev = sym
          start = i + 2
          i += 2
        } else i += 1
      }
      val last = s.substring(start, end)
      if (prev != null && last.nonEmpty) add(m, prev + " " + last, freq)
    }
    m
  }

  override def merge(a: java.util.HashMap[String, Array[Long]],
      b: java.util.HashMap[String, Array[Long]])
      : java.util.HashMap[String, Array[Long]] = {
    val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
    small.forEach { (k, v) => add(big, k, v(0)) }
    big
  }

  override def finish(m: java.util.HashMap[String, Array[Long]])
      : Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    m.forEach { (k, v) => out += k -> v(0) }
    out.result()
  }

  override def bufferEncoder
      : org.apache.spark.sql.Encoder[java.util.HashMap[String, Array[Long]]] =
    org.apache.spark.sql.Encoders.kryo[java.util.HashMap[String, Array[Long]]]

  override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}

/** Column-level API over the BPE kernels. */
object BpeOps {

  /** Total symbol count of `tokens` after applying `rules` (a driver-side
    * merge list) in order — codegen'd, value-identical to the
    * space-wrapped replace chain (see [[BpeSymbolSum]]). */
  def symbolSum(tokens: Column, rules: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    // an argless array() types as array<void>; pin <string> when empty
    val rulesCol =
      if (rules.isEmpty) lit(Array.empty[String])
      else array(rules.flatMap { case (a, b) => Seq(lit(a), lit(b)) }: _*)
    GraftSql.column(BpeSymbolSum(
      GraftSql.expression(tokens), GraftSql.expression(rulesCol)))
  }
}
