package graft

import graft.functions.{ArrayMath, Lsh}
import graft.streaming.StatefulSessions
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties (SURVEY.md §5.3) for the custom kernels, with a
  * fixed seed so runs are reproducible. */
class GraftPropsSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(50)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), p)
    assert(res.passed, res.status.toString)
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](16, Gen.chooseNum(-10f, 10f))

  test("property: dot product is symmetric, bit for bit") {
    val cases = Gen.listOfN(60, Gen.zip(vecGen, vecGen)).sample.get
    val df = cases.toDF("a", "b")
    val rows = df.select(
      ArrayMath.dot(col("a"), col("b")).as("ab"),
      ArrayMath.dot(col("b"), col("a")).as("ba")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("property: simhash is token-order invariant and deterministic") {
    val tokGen = Gen.listOfN(12, Gen.alphaNumStr.suchThat(_.nonEmpty))
    check(Prop.forAll(tokGen) { toks =>
      val shuffled = scala.util.Random.shuffle(toks)
      val df = Seq(Tuple1(toks), Tuple1(shuffled)).toDF("t")
      val hs = df.select(graft.functions.TextHash.simhash64(col("t")))
        .collect().map(_.getLong(0))
      hs(0) == hs(1)
    })
  }

  test("property: LSH planes are deterministic and band count is exact") {
    check(Prop.forAll(Gen.chooseNum(0, 1000), Gen.chooseNum(2, 128)) { (p, dim) =>
      Lsh.planeVector(p, dim).sameElements(Lsh.planeVector(p, dim)) &&
        Lsh.planeVector(p, dim).length == dim
    })
  }

  test("property: incremental session fold equals whole-batch fold") {
    val us = 60L * 1000 * 1000
    val evGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 600L), Gen.chooseNum(1, 100)))
      .map(_.map { case (minute, v) => (minute * us, v.toDouble) }
        .sortBy(x => x))
    check(Prop.forAll(evGen, Gen.chooseNum(0, 30)) { (events, splitAt) =>
      val (first, second) = events.splitAt(splitAt)
      val whole = StatefulSessions.fold(events, None)
      val (c1, open1) = StatefulSessions.fold(first, None)
      val (c2, open2) = StatefulSessions.fold(second, open1)
      (c1 ++ c2, open2) == whole
    })
  }

  test("property: interval-merge fold equals sequential gap-split on sorted input") {
    // independent reference: the textbook single-pass gap rule over
    // GLOBALLY sorted events — correct by construction when input is
    // sorted. The interval-merge fold must produce the same sessions from
    // the SAME events in ANY arrival order (late events, shuffles): that
    // arrival-order invariance is exactly what the streaming path needs
    // from watermark-admitted late data.
    val us = 60L * 1000 * 1000
    val evGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 400L), Gen.chooseNum(1, 9)))
      .map(_.map { case (minute, v) => (minute * us, v.toDouble) })
    check(Prop.forAll(evGen, Gen.chooseNum(0L, Long.MaxValue)) { (events, seed) =>
      val reference = events.sorted
        .foldLeft(Vector.empty[StatefulSessions.SessionState]) {
          case (acc, (t, v))
              if acc.nonEmpty && t - acc.last.lastTs < StatefulSessions.GapUs =>
            acc.init :+ acc.last.copy(lastTs = t,
              n = acc.last.n + 1, total = acc.last.total + v)
          case (acc, (t, v)) =>
            acc :+ StatefulSessions.SessionState(t, t, 1, v)
        }
      val shuffled = new scala.util.Random(seed).shuffle(events)
      val (closed, open) = StatefulSessions.fold(shuffled, None)
      (closed ++ open) == reference
    })
  }

  test("property: block-offset global cumsum equals the single-window form") {
    // Every Ranks output — running index and sums, the row count n and each
    // measure's `_total` — against a driver-side reference over the sorted
    // rows: seeded random values with DUPLICATE sort keys (8 key values), a
    // null group, one row and the empty frame, at block counts 1, 7 (more
    // blocks than the 5-row trial has rows, so some range partitions are
    // empty) and the session-derived default (0). Few trials: each call is
    // a shuffle + a checkpoint job.
    import graft.ops.Ranks
    val rnd = new scala.util.Random(13L)
    val sizes = Seq(40 + rnd.nextInt(60), 40 + rnd.nextInt(60), 5, 1, 0)
    sizes.zipWithIndex.foreach { case (n, trial) =>
      val rows = (0 until n).map(i => (i.toLong, rnd.nextInt(8).toLong,
        Seq("a", "b", null)(rnd.nextInt(3)), 1L + rnd.nextInt(50),
        rnd.nextInt(1000).toLong))
      val df = rows.toDF("id", "key", "grp", "v", "w")
      def byId(d: org.apache.spark.sql.DataFrame, c: String*) =
        d.select(col("id") +: c.map(col): _*).collect()
          .map(r => r.getLong(0) -> (1 to c.size).map(r.getLong)).toMap
      // total order (key desc, id): the exact row_number / running sums,
      // and the frame's row count and measure totals on every row
      val order = Seq(col("key").desc, col("id"))
      val total = rows.sortBy { case (id, k, _, _, _) => (-k, id) }
      val (vt, wt) = (rows.map(_._4).sum, rows.map(_._5).sum)
      val cum = total.scanLeft((0L, 0L, 0L)) { case ((i, v, w), r) =>
        (i + 1, v + r._4, w + r._5) }.tail
      val want = total.map(_._1).zip(cum).toMap
      // grouped (null group included): rank within the group, group size
      val grouped = rows.groupBy(_._3).values.flatMap { g =>
        g.sortBy(r => (r._2, r._1)).zipWithIndex
          .map { case (r, i) => r._1 -> Seq(i + 1L, g.size.toLong) } }.toMap
      Seq(1, 7, 0).foreach { parts =>
        val ctx = s"trial $trial ($n rows, parts $parts)"
        assert(byId(Ranks.blockRunning(df, Nil, order, Nil, parts),
            "idx", "n") ==
          want.map { case (id, c) => id -> Seq(c._1, n.toLong) }, s"index, $ctx")
        assert(byId(Ranks.blockRunning(df, Nil, order,
            Seq("cv" -> col("v"), "cw" -> col("w")), parts),
            "idx", "cv", "cw", "n", "cv_total", "cw_total") ==
          want.map { case (id, c) =>
            id -> Seq(c._1, c._2, c._3, n.toLong, vt, wt) }, s"two sums, $ctx")
        assert(byId(Ranks.blockRunning(df, Seq("grp"),
            Seq(col("key"), col("id")), Nil, parts), "idx", "n") == grouped,
          s"grouped index, $ctx")
      }
      // the public entry points: the default block count and their column
      // contracts (input columns + idx/n, or + each sum, its _total and n)
      val ctx = s"trial $trial ($n rows)"
      val gi = Ranks.globalIndex(df, order: _*)
      assert(gi.columns.toSet == df.columns.toSet ++ Set("idx", "n"), ctx)
      assert(byId(gi, "idx") == want.map { case (id, c) => id -> Seq(c._1) },
        s"index, $ctx")
      val cs = Ranks.globalCumSum(df, col("v"), order: _*)
      assert(cs.columns.toSet == df.columns.toSet ++ Set("cum", "cum_total", "n"),
        ctx)
      assert(byId(cs, "cum", "cum_total", "n") ==
        want.map { case (id, c) => id -> Seq(c._2, vt, n.toLong) },
        s"cumsum, $ctx")
      val gx = Ranks.groupIndex(df, Seq("grp"), col("key"), col("id"))
      assert(gx.columns.toSet == df.columns.toSet ++ Set("idx", "n"), ctx)
      assert(byId(gx, "idx", "n") == grouped, s"grouped index, $ctx")
      // tied key only: ties share one block, so each key holds the same
      // contiguous range of indices in any tie order
      def perKey(idx: Iterable[(Long, Long)]) =
        idx.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
      val tied = Ranks.globalIndex(df, col("key")).select("key", "idx")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(perKey(tied) == perKey(rows.map(_._2).sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }), s"tied index, $ctx")
    }
  }

  test("property: bloom pre-filter never drops a member on random key sets") {
    // beyond the corpus-key spec in ScalePatternsSpec: arbitrary long keys,
    // including negatives and near-collisions, must all survive a filter
    // built over them (false positives allowed, false negatives never) —
    // few trials, bigger sets: each trial is a pair of Spark jobs
    val rnd = new scala.util.Random(7L)
    (1 to 3).foreach { trial =>
      val keys = Seq.fill(500)(rnd.nextLong() >> (trial * 8)).distinct
      val build = keys.toDF("k")
      val surviving = graft.functions.BloomPrune
        .filterByKeys(build, col("k"), build, col("k"))
        .count()
      assert(surviving == keys.size,
        s"trial $trial: bloom dropped ${keys.size - surviving} of its own keys")
    }
  }
}
