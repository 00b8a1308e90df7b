package graft

import graft.functions.ArrayMath
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ArrayMath kernels: generated vs interpreted parity against a plain
  * Scala fold, numeric semantics, type coverage (array<float>,
  * array<double>, array<tinyint>). */
class ArrayMathSpec extends SparkSpec {
  import spark.implicits._

  private def floats(xs: Double*) = xs.map(_.toFloat).toArray

  /** `cols` over `df`, evaluated by generated code (no fallback to eval)
    * and then interpreted. The frame is rebuilt from its RDD first: the
    * optimizer folds a projection over a local Seq with interpreted eval
    * (ConvertToLocalRelation), so neither run would reach generated code. */
  private def bothPaths(df: DataFrame, cols: Column*): (Array[Row], Array[Row]) = {
    def q = spark.createDataFrame(df.rdd, df.schema).select(cols: _*)
    val gen = GraftSession.withConfs(spark,
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      val run = q
      val rows = run.collect()
      val plan = run.queryExecution.executedPlan.toString
      val kernelLines = plan.linesIterator.filter(_.contains("graft_")).toSeq
      assert(kernelLines.nonEmpty && kernelLines.forall(_.contains("*(")),
        s"kernels evaluated outside whole-stage codegen:\n$plan")
      rows
    }
    val interpreted = GraftSession.withConfs(spark,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(q.collect())
    (gen, interpreted)
  }

  /** A row's values with each double as its bits (NaN canonical,
    * -0.0 ≠ 0.0). */
  private def bits(row: Row): Seq[Any] = row.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case o => o
  }

  test("dot product over float arrays matches hand computation") {
    val df = Seq((floats(1, 2, 3), floats(4, 5, 6))).toDF("a", "b")
    val r = df.select(ArrayMath.dot(col("a"), col("b"))).head().getDouble(0)
    assert(r == 32.0)
  }

  test("dot product over double arrays and mixed float/double") {
    val df = Seq((Array(1.5, -2.0), floats(2, 3))).toDF("a", "b")
    val r = df.select(ArrayMath.dot(col("a"), col("b"))).head().getDouble(0)
    assert(r == 1.5 * 2 - 2.0 * 3)
  }

  test("length mismatch yields null (zip_with pads with nulls, folds to null)") {
    val df = Seq((floats(1, 2, 3), floats(10, 10))).toDF("a", "b")
    assert(df.select(ArrayMath.dot(col("a"), col("b"))).head().isNullAt(0))
    assert(df.select(ArrayMath.cosine(col("a"), col("b"))).head().isNullAt(0))
  }

  test("null input yields null") {
    val df = Seq((Option(floats(1, 2)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(ArrayMath.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("null ELEMENT inside the common prefix propagates null (HOF parity)") {
    // Seq[Option] columns get containsNull=true schemas — the nullable path
    val df = Seq(
      (Seq(Option(1.0f), None, Option(3.0f)), Seq(Option(4.0f), Option(5.0f), Option(6.0f))),
      (Seq(Option(1.0f), Option(2.0f)), Seq(Option(4.0f), Option(5.0f))))
      .toDF("a", "b")
    val rows = df.select(ArrayMath.dot(col("a"), col("b"))).collect()
    assert(rows(0).isNullAt(0)) // null*5 = null, null+s = null — like zip_with/aggregate
    assert(rows(1).getDouble(0) == 14.0)
    // ragged pair -> null regardless of where the null element sits
    val ragged = Seq((Seq(Option(1.0f), None), Seq(Option(2.0f))))
      .toDF("a", "b")
      .select(ArrayMath.dot(col("a"), col("b"))).head()
    assert(ragged.isNullAt(0))
  }

  test("hyperplane bands: null element yields null signature") {
    import graft.functions.Lsh
    val df = Seq(
      (1L, Seq(Option(1.0f), None, Option(3.0f))),
      (2L, Seq(Option(1.0f), Option(2.0f), Option(3.0f))))
      .toDF("id", "emb")
    val rows = df.select(col("id"), Lsh.hyperplaneBands(col("emb"), 4, 6, 3).as("sig"))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(1))
    assert(!rows(1).isNullAt(1) && rows(1).getSeq[Long](1).length == 4)
  }

  test("norm and cosine: known values, zero-norm null") {
    val df = Seq(
      (floats(3, 4), floats(3, 4)),
      (floats(1, 0), floats(0, 1)),
      (floats(0, 0), floats(1, 1))).toDF("a", "b")
    val rows = df.select(
      ArrayMath.norm(col("a")).as("n"),
      ArrayMath.cosine(col("a"), col("b")).as("c")).collect()
    assert(rows(0).getDouble(0) == 5.0 && rows(0).getDouble(1) == 1.0)
    assert(rows(1).getDouble(1) == 0.0)
    assert(rows(2).isNullAt(1)) // zero norm -> null, not NaN/divide-by-zero
  }

  test("fused cosine kernel is bit-identical to dot/(norm*norm)") {
    val rnd = new scala.util.Random(13)
    val df = Seq.fill(40)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("a", "b")
    val rows = df.select(
      ArrayMath.cosine(col("a"), col("b")).as("fused"),
      (ArrayMath.dot(col("a"), col("b")) /
        (ArrayMath.norm(col("a")) * ArrayMath.norm(col("b")))).as("unfused"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("codegen and interpreted paths agree bit-for-bit") {
    // one row per case; each pair runs through every kernel on float,
    // double, mixed and containsNull=false columns (the last skip the
    // per-element null test; a case with a null element is a null array
    // there)
    val Inf = Double.PositiveInfinity
    def vals(xs: Double*): Seq[Option[Double]] = xs.map(Option(_))
    val rnd = new scala.util.Random(42)
    val cases: Seq[(Seq[Option[Double]], Seq[Option[Double]])] = Seq(
      (vals(1, 2, 3), vals(10, 10)), // ragged
      (Seq(Some(1.0), None, Some(3.0)), vals(4, 5, 6)), // null element
      (vals(0, 0), vals(1, 1)), // all-zero
      (Nil, Nil), // empty
      (vals(Double.NaN, 1), vals(1, 2)),
      (vals(Inf, 1), vals(-Inf, 2)),
      (vals(Inf, 0), vals(Inf, 0))) ++
      Seq.fill(20)((vals(Seq.fill(64)(rnd.nextFloat() * 2.0 - 1): _*),
        vals(Seq.fill(64)(rnd.nextFloat() * 2.0 - 1): _*)))
    def code(v: Double): Byte =
      math.round(math.max(-127.0, math.min(127.0, v * 100))).toByte
    def cells(f: Double => Any): Seq[Option[Double]] => Any =
      _.map(_.map(f).orNull)
    def nonNull(c: Seq[Option[Double]] => Any): Seq[Option[Double]] => Any =
      v => if (v.contains(None)) null else c(v)
    val columns = Seq[(String, DataType, Boolean, Seq[Option[Double]] => Any)](
      ("f", FloatType, true, cells(_.toFloat)),
      ("d", DoubleType, true, cells(identity)),
      ("n", FloatType, false, nonNull(cells(_.toFloat))),
      ("q", ByteType, true, cells(code)),
      ("qn", ByteType, false, nonNull(cells(code))))
    val schema = StructType(columns.flatMap { case (c, t, nulls, _) =>
      Seq(StructField("a" + c, ArrayType(t, nulls)),
        StructField("b" + c, ArrayType(t, nulls)))
    })
    val rows = cases.map { case (a, b) =>
      Row.fromSeq(columns.flatMap { case (_, _, _, f) => Seq(f(a), f(b)) })
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val floatKernels = Seq[(String, (Column, Column) => Column)](
      "dot" -> ArrayMath.dot, "cosine" -> ArrayMath.cosine,
      "squaredL2" -> ArrayMath.squaredL2)
    val pairs = Seq("af" -> "bf", "ad" -> "bd", "af" -> "bd", "an" -> "bn")
    val kernels = floatKernels.flatMap { case (_, k) =>
      pairs.map { case (a, b) => k(col(a), col(b)) }
    } ++ Seq(ArrayMath.quantDot(col("aq"), col("bq")),
      ArrayMath.quantDot(col("aqn"), col("bqn"))) ++
      Seq("af", "ad", "an").map(c => ArrayMath.int8Codes(col(c)))
    val (gen, interpreted) = bothPaths(df, kernels: _*)
    assert(gen.map(bits) sameElements interpreted.map(bits))

    // plain-Scala reference for the float kernels and quantDot: widen each
    // element as its column stores it, fold in ascending index order
    def fold(kernel: String, x: Array[Double], y: Array[Double]): Any = {
      def sum(f: Int => Double) = x.indices.foldLeft(0.0)((s, i) => s + f(i))
      kernel match {
        case "dot" => sum(i => x(i) * y(i))
        case "squaredL2" => sum(i => (x(i) - y(i)) * (x(i) - y(i)))
        case "cosine" =>
          val d = math.sqrt(sum(i => x(i) * x(i))) * math.sqrt(sum(i => y(i) * y(i)))
          if (d == 0.0) null else sum(i => x(i) * y(i)) / d
      }
    }
    def widen(c: String)(v: Double): Double =
      if (c.endsWith("d")) v else v.toFloat.toDouble
    val expected = cases.map { case (a, b) =>
      val whole = a.length == b.length && !a.contains(None) && !b.contains(None)
      val floats = for ((name, _) <- floatKernels; (ca, cb) <- pairs) yield
        if (whole) fold(name, a.flatten.map(widen(ca)).toArray,
          b.flatten.map(widen(cb)).toArray)
        else null
      val qdot = if (whole) {
        a.flatten.zip(b.flatten).map { case (x, y) => code(x).toLong * code(y) }.sum
      } else null
      bits(Row.fromSeq(floats ++ Seq(qdot, qdot)))
    }
    assert(gen.map(r => bits(r).take(expected.head.length)).toSeq == expected)
  }

  test("dot matches the higher-order-function fold it replaced") {
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(20)((
      Array.fill(16)(rnd.nextFloat()), Array.fill(16)(rnd.nextFloat())))
      .toDF("a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(ArrayMath.dot(col("a"), col("b")).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("quantDot: exact int8 dot, codegen == interpreted == driver fold") {
    val rnd = new scala.util.Random(11)
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY, and the
    // kernel deliberately accepts only array<tinyint>
    val data = Seq.fill(25)((
      Seq.fill(16)((rnd.nextInt(255) - 127).toByte),
      Seq.fill(16)((rnd.nextInt(255) - 127).toByte)))
    val (gen, interp) =
      bothPaths(data.toDF("a", "b"), ArrayMath.quantDot(col("a"), col("b")))
    val withCodegen = gen.map(_.getLong(0))
    assert(withCodegen.sameElements(interp.map(_.getLong(0))))
    // exact integer reference — no float anywhere
    val ref = data.map { case (a, b) =>
      a.zip(b).map { case (x, y) => x.toLong * y.toLong }.sum
    }
    assert(withCodegen.sameElements(ref))
  }

  test("quantDot: ragged pair and null element yield NULL; SQL fn registered") {
    graft.GraftExtensions.register(spark)
    val df = Seq(
      (Seq[Byte](1, 2, 3), Seq[Byte](4, 5, 6)),
      (Seq[Byte](1, 2), Seq[Byte](4, 5, 6)))
      .toDF("a", "b")
    val out = df.select(ArrayMath.quantDot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getLong(0) == 4 + 10 + 18)
    assert(out(1).isNullAt(0), "ragged pair must be NULL")
    val viaSql = df.limit(1).createOrReplaceTempView("qd_t")
    assert(spark.sql("SELECT graft_qdot(a, b) AS d FROM qd_t")
      .head().getLong(0) == 32L)
    // null element → NULL (containsNull=true schema path)
    val withNull = spark.sql(
      "SELECT graft_qdot(array(CAST(1 AS TINYINT), CAST(NULL AS TINYINT))," +
        " array(CAST(1 AS TINYINT), CAST(1 AS TINYINT))) AS d")
    assert(withNull.head().isNullAt(0))
  }

  test("int8Codes matches the unfused array_max/transform/round form") {
    val rnd = new scala.util.Random(23)
    // floats spanning sign, magnitude and near-zero — the q297/q323 shape
    val df = Seq.fill(60)(Array.fill(48)(
        (rnd.nextFloat() * 2 - 1) * math.pow(10, rnd.nextInt(4) - 2).toFloat))
      .toDF("embedding")
    val unfusedScale =
      array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0
    val rows = df
      .withColumn("scale", unfusedScale)
      .filter(col("scale") > 0)
      .select(
        transform(col("embedding"),
          x => round(x.cast("double") / col("scale"), 0).cast("tinyint"))
          .as("ref"),
        ArrayMath.int8Codes(col("embedding")).as("fused"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Byte](0) == r.getSeq[Byte](1))
    }
  }

  test("int8Codes: exact HALF_UP edges, codegen == interpreted") {
    // scale is exactly 1.0 (max|x| = 127), so the quotients hit the
    // rounding edges undisturbed: +0.5 → 1 (away from zero), −0.5 → −1,
    // and 0.49999999999999994 (the largest double < 0.5, the classic
    // `floor(x + 0.5)` trap: 0.4999…94 + 0.5 == 1.0 in double) → 0.
    val df = Seq(Array(127.0, 0.5, -0.5, 0.49999999999999994,
        -0.49999999999999994, 1.4999999999999998, 126.5)).toDF("v")
    val (genRows, interpRows) = bothPaths(df, ArrayMath.int8Codes(col("v")))
    val gen = genRows.head.getSeq[Byte](0)
    assert(gen == Seq[Byte](127, 1, -1, 0, 0, 1, 127))
    assert(gen == interpRows.head.getSeq[Byte](0))
  }

  test("int8Codes: all-zero / empty / null-element inputs yield NULL") {
    val zero = Seq(Array(0.0f, 0.0f), Array.empty[Float])
      .toDF("v").select(ArrayMath.int8Codes(col("v"))).collect()
    assert(zero.forall(_.isNullAt(0)), "scale == 0 rows must be NULL (fused filter)")
    val withNullElem = Seq(Seq(Option(1.0f), None))
      .toDF("v").select(ArrayMath.int8Codes(col("v"))).head()
    assert(withNullElem.isNullAt(0))
    val nullInput = Seq(Option.empty[Array[Float]])
      .toDF("v").select(ArrayMath.int8Codes(col("v"))).head()
    assert(nullInput.isNullAt(0))
  }

  test("int8Codes: NaN element NULLs the row, matching the unfused " +
    "array_max form (ADVICE r14), including NaN-FIRST (ADVICE r15)") {
    // Spark's array_max treats NaN as greater than every value, so the
    // unfused `scale > 0` guard dropped [5.0, NaN]; the fused kernel must
    // too — `av > mx` alone would silently keep it with NaN quantized to 0.
    // [NaN, 5.0] is the case a NaN-propagating-max (`!(a <= mx)`) got
    // WRONG: once mx was NaN, `!(5.0 <= NaN)` was also true, so the later
    // finite element overwrote the NaN and the row quantized with the NaN
    // element cast to byte 0 (ADVICE r15) — hence the per-element bail.
    val df = Seq(Array(5.0, Double.NaN), Array(Double.NaN), Array(5.0, 1.0),
        Array(Double.NaN, 5.0), Array(Double.NaN, 5.0, 1.0))
      .toDF("v")
    val (gen, interp) = bothPaths(df, ArrayMath.int8Codes(col("v")))
    assert(gen(0).isNullAt(0), "mixed-NaN row must be NULL")
    assert(gen(1).isNullAt(0), "all-NaN row must be NULL")
    assert(gen(2).getSeq[Byte](0) == Seq[Byte](127, 25))
    assert(gen(3).isNullAt(0), "NaN-FIRST row must be NULL (sticky)")
    assert(gen(4).isNullAt(0), "NaN-first-then-finite row must be NULL")
    assert(interp(0).isNullAt(0) && interp(1).isNullAt(0))
    assert(interp(2).getSeq[Byte](0) == Seq[Byte](127, 25))
    assert(interp(3).isNullAt(0), "NaN-FIRST row must be NULL (interpreted)")
    assert(interp(4).isNullAt(0))
  }

  test("int8Codes: subnormal scale cannot wrap the byte cast (ADVICE r14)") {
    // mx = 255·Double.MinValue makes scale = mx/127.0 round DOWN to
    // 2·MinValue (subnormal division has unbounded relative error), so
    // q = 127.5 rounds to 128 — without the clamp, (byte) wraps to -128.
    // The no-wrap invariant must hold unconditionally: codes stay in
    // [-127, 127].
    val tiny = java.lang.Double.MIN_VALUE
    val df = Seq(Array(255 * tiny, -255 * tiny, tiny)).toDF("v")
    val (genRows, interpRows) = bothPaths(df, ArrayMath.int8Codes(col("v")))
    val gen = genRows.head
    assert(!gen.isNullAt(0))
    val codes = gen.getSeq[Byte](0)
    assert(codes(0) == 127.toByte, s"clamped max code, got ${codes(0)}")
    assert(codes(1) == (-127).toByte, s"clamped min code, got ${codes(1)}")
    assert(codes.forall(c => c >= -127 && c <= 127),
      s"no code may wrap past ±127: $codes")
    assert(interpRows.head.getSeq[Byte](0) == codes, "codegen == interpreted")
  }
}
