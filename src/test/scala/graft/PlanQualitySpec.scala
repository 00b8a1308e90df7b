package graft

/** Physical-plan contracts for the scale-critical queries: these assert the
  * plan SHAPE (pushdown, pruning, broadcast, partial aggregation, top-k)
  * rather than results — the properties that decide whether the same query
  * is viable at 100 TB. A regression here can leave every result correct
  * and still make the plan 100× more expensive at scale. */
class PlanQualitySpec extends SparkSpec {

  /** Queries whose construction runs a full workload (model fits, a whole
    * streaming run): the registry sweeps skip them for test minutes. */
  private val heavyEager = Set("q40_rf_regression", "q41_kmeans_embeddings",
    "q76_stream_sessions", "q106_stream_dedup",
    "q127_tws_sessions", "q128_walmart_dag")

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("q02: range + price predicates and column pruning reach the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_extendedprice"),
      s"price predicate not pushed:\n$p")
    // pruned read schema — none of the untouched wide columns
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      s"scan reads columns the query never touches:\n$p")
  }

  test("q04: dimension tables broadcast, no nested-loop join anywhere") {
    val p = planOf("q04_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested-loop join in a pure equi-join star query:\n$p")
  }

  test("q01: aggregation runs partial (map-side) before the shuffle") {
    val p = planOf("q01_pricing_summary")
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0, s"no hash aggregate:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no partial aggregation before the exchange:\n$p")
  }

  test("q03: top-k plans as TakeOrdered, not a global sort") {
    val p = planOf("q03_top_customers")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 missing TakeOrdered:\n$p")
  }

  test("q58: range join keeps its equi component (hash/merge join, no BNLJ)") {
    val p = planOf("q58_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to nested-loop:\n$p")
    assert(p.contains("Join LeftOuter") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"),
      s"no keyed join operator:\n$p")
  }

  test("q33: brute-force kNN broadcasts the query side (no shuffle of the corpus)") {
    val p = planOf("q33_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
    // the corpus side must not be exchanged before the join
    assert(p.contains("graft_cosine"), s"custom kernel absent from the plan:\n$p")
  }

  test("whole-stage codegen covers the custom expressions (no interpreted islands)") {
    // q33 keeps rows at sf0.001 (q34's empty result would let AQE collapse
    // the plan to EmptyRelation, hiding every stage); AQE only finalizes
    // (and codegen-wraps) stages on execution, hence the collect first.
    val df = SparkEntry.queries("q33_knn_cosine")(spark, sf0001)
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" markers in toString
    assert(p.contains("*("), s"no codegen spans:\n$p")
    // the fused cosine kernel participates in codegen: it appears inside
    // codegen-staged operators (asterisked), not interpreted islands
    val cosLines = p.linesIterator.filter(_.contains("graft_cosine")).toSeq
    assert(cosLines.nonEmpty && cosLines.exists(_.contains("*")),
      s"graft_cosine evaluated outside whole-stage codegen:\n$p")
  }

  test("q75: part join is keyed (BHJ at test SF), shipdate pushed, part scan pruned") {
    val p = planOf("q75_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part side not broadcast at test SF:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"equi-join degenerated to nested-loop:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate predicate not pushed to the lineitem scan:\n$p")
    // part scan must read only the 2 touched columns, not all 6
    assert(!p.contains("p_retailprice") && !p.contains("p_brand") && !p.contains("p_name"),
      s"part scan reads untouched columns:\n$p")
  }

  test("q77: day-range predicate prunes partitions at planning time") {
    val p = planOf("q77_partitioned_scan")
    assert(p.contains("PartitionFilters:") && p.contains("(day"),
      s"day range not applied as a partition filter:\n$p")
  }

  test("q78: bucketed join runs shuffle-free (no hash exchange anywhere)") {
    val p = planOf("q78_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed join lost its SMJ:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$p")
    // the fact-side join AND the per-orderkey aggregate must both consume
    // the on-disk bucketing; only the final global agg may exchange (to a
    // single partition)
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash exchange despite bucketed layout:\n$p")
  }

  test("no CartesianProduct in ANY registered query plan (repo-wide scale contract)") {
    // Every query must keep joins either keyed or broadcast-bounded (the
    // q33/q34 BNLJ-with-small-broadcast shape is fine — the corpus side
    // never shuffles); an unbounded cartesian is never acceptable at scale.
    // Queries whose CONSTRUCTION runs a full workload (model fits, a
    // complete streaming run) are excluded from this sweep to keep the
    // test minutes cheap — their final frames are single-row aggregate
    // crossJoins (broadcast BNLJ by construction) and their semantics are
    // pinned by RowsOnlySpec/SimilaritySpec/EventsSpec.
    val offenders = SparkEntry.registry
      .filterNot(q => heavyEager(q.name)).flatMap { q =>
        val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(q.name) else None
      }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("q130: global indexing never single-partitions the table") {
    val p = planOf("q130_global_index")
    // the table-wide rank window must be partitioned (by pid) — the naive
    // row_number() OVER (ORDER BY k) would put the whole table through one
    // Exchange SinglePartition + one sorting task
    assert(p.contains("hashpartitioning(_pid"),
      s"table-wide window not partitioned by pid:\n$p")
    // a SinglePartition exchange may only carry pre-aggregated rows (its
    // child must be an aggregate: the ≤32-row per-pid counts, the map-side
    // partials of the final one-row merge) — the naive funnel's exchange
    // would carry the raw table into a Sort+Window
    val lines = p.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate"),
          s"SinglePartition exchange feeding a non-aggregate (table funnel):\n$p")
      }
  }

  test("q148: RFM quartiles never single-partition the customer frame") {
    val p = planOf("q148_rfm_segments")
    // the per-customer rank window must be partitioned (by block id) — the
    // naive ntile() OVER (ORDER BY k) would funnel every customer row
    // through one Exchange SinglePartition + one sorting task, three times
    assert(p.contains("hashpartitioning(_pid"),
      s"customer-frame rank window not partitioned by pid:\n$p")
    // a SinglePartition exchange may only carry pre-aggregated rows (its
    // child must be an aggregate: the per-pid block counts, the final
    // one-row segment merge) — never the raw per-customer frame
    val lines = p.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate"),
          s"SinglePartition exchange feeding a non-aggregate (customer funnel):\n$p")
      }
    // same contract on the helper itself over a non-checkpointed input
    // (q148's chained checkpoints hide the first two stages from its final
    // executed plan; this sees one full stage end to end)
    import org.apache.spark.sql.functions.col
    val df = spark.range(1000).toDF("id")
      .withColumn("v", col("id") * 37 % 97)
    val hp = ops.Ranks.groupIndex(df, Nil, col("v"), col("id"))
      .withColumn("b", ops.Ranks.ntileExpr(col("idx"), col("n"), 4))
      .queryExecution.executedPlan.toString
    val hLines = hp.linesIterator.toVector
    hLines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < hLines.size && hLines(i + 1).contains("HashAggregate"),
          s"groupIndex single-partitions non-aggregated rows:\n$hp")
      }
  }

  test("q166/q167: rank CDF never single-partitions the value frame") {
    // the block-offset topology (Ranks.globalCumSums): per-value rows rank
    // inside a pid-partitioned window; the only SinglePartition exchanges
    // may carry pre-aggregated rows (per-pid offsets, final statistics) —
    // never the per-distinct-value frame itself. q167's extra checkpoint
    // hides the window stage from its final plan, so the window shape is
    // pinned on the helper directly (below) and on q166's visible plan.
    Seq("q166_mann_whitney", "q167_ks_test").foreach { name =>
      val p = planOf(name)
      val lines = p.linesIterator.toVector
      lines.zipWithIndex
        .filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate"),
            s"$name: SinglePartition exchange feeding a non-aggregate:\n$p")
        }
    }
    assert(planOf("q166_mann_whitney").contains("hashpartitioning(_pid"),
      "q166: value-frame window not partitioned by pid")
    // helper over a synthetic frame: same contract, end to end
    import org.apache.spark.sql.functions.{col, lit}
    val counts = spark.range(5000).toDF("v")
      .withColumn("a", col("v") % 7).withColumn("b", col("v") % 5)
    val hp = ops.Ranks.globalCumSums(counts,
        Seq("ca" -> col("a"), "cb" -> col("b")), col("v"))
      .queryExecution.executedPlan.toString
    assert(hp.contains("hashpartitioning(_pid"),
      s"globalCumSums window not partitioned by pid:\n$hp")
    val hLines = hp.linesIterator.toVector
    hLines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < hLines.size && hLines(i + 1).contains("HashAggregate"),
          s"globalCumSums single-partitions non-aggregated rows:\n$hp")
      }
  }

  test("q53: segment ranking windows are block-partitioned, not a 5-task funnel") {
    val p = planOf("q53_window_stats")
    // the customer-frame rank window must partition by (pid, segment) —
    // a plain PARTITION BY c_mktsegment window would sort each of the 5
    // segments in ONE task at any customer count
    assert(p.contains("hashpartitioning(_pid"),
      s"rank window not partitioned by block id:\n$p")
    val lines = p.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate"),
          s"SinglePartition exchange feeding a non-aggregate:\n$p")
      }
  }

  test("q156: exact-k sampling plans as TakeOrdered — no corpus shuffle") {
    val p = planOf("q156_exact_k_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"exact-k sample lost its per-partition-heap top-k:\n$p")
    assert(!p.contains("Exchange"),
      s"a deterministic top-k-by-hash must not shuffle the corpus:\n$p")
  }

  test("q159: the stratified sample is heap-pruned per source before the exchange") {
    GraftExtensions.register(spark)
    val p = planOf("q159_stratified_sample")
    // the per-source row_number window is heap-pruned map-side: no
    // corpus-sized frame is shuffled or sorted, and no whole-group
    // collect_list buffer is built
    assert(p.contains("PartialTopKPerKey"),
      s"stratified sample lost its per-source heaps:\n$p")
    assert(!p.contains("collect_list"), p)
  }

  test("q83: latest-by-key compacts as a partial aggregate, not a window sort") {
    val p = planOf("q83_latest_by_key")
    // max_by must run map-side (partial) so the shuffle carries one row per
    // (partition, key) — the whole point vs the oracle's row_number()=1
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      s"no partial max_by before the exchange:\n$p")
    assert(!p.contains("Window"),
      s"compaction fell back to a window sort over raw rows:\n$p")
  }

  test("q86: the four funnel stages share one user_id shuffle") {
    val p = planOf("q86_funnel")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"funnel should sort once per user partition, saw $shuffles hash exchanges:\n$p")
  }

  test("q92: the benchmark n-gram set broadcasts; the corpus probe is a semi join") {
    val p = planOf("q92_decontaminate")
    // the eval-suite gram universe is MBs at any corpus size — it must ride
    // a broadcast semi join so the 100 TB corpus side never shuffles for
    // the contamination probe
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark grams not broadcast into a semi join:\n$p")
  }

  test("q26: distinct aggregates stay a two-shuffle expand, no extra scans") {
    val p = planOf("q26_dedup_exact")
    // one scan of documents feeds the whole distinct-aggregate pipeline
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single documents scan, saw $scans:\n$p")
  }

  test("q99: the redaction scrub is one map-side pass over one scan") {
    val p = planOf("q99_redact")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single documents scan, saw $scans:\n$p")
    // regex work happens before the only exchange: per-source partial rows
    // are all that shuffle at any corpus size
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("q100: chunk fan-out generates map-side; only audit partials shuffle") {
    val p = planOf("q100_chunk_windows")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single documents scan, saw $scans:\n$p")
    // the window fan-out is a Generate directly over the scan's projection —
    // chunks are born and partially aggregated before any exchange. Plan
    // toString prints root-first, so "Generate below the exchange" means
    // Generate appears at a LARGER index than the last Exchange.
    assert(p.contains("Generate explode"), s"no generate fan-out:\n$p")
    val genIdx = p.indexOf("Generate")
    val lastExIdx = p.lastIndexOf("Exchange")
    assert(genIdx >= 0 && (lastExIdx < 0 || genIdx > lastExIdx),
      s"explode must run below every exchange (map side):\n$p")
  }

  test("q102: packing shuffles offsets, never token arrays; scan is pruned") {
    val p = planOf("q102_sequence_pack")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single documents scan, saw $scans:\n$p")
    // the exchange before the per-source window must carry (source, n) only
    // — a plan that shuffles the tokenized arrays is 100× wider for nothing.
    // Plan toString is root-first, so everything printed BEFORE the exchange
    // runs downstream of it: no post-shuffle operator may see the text
    // column or re-tokenize (the split must happen below the exchange).
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(exIdx >= 0, s"no per-source exchange:\n$p")
    val postShuffle = p.substring(0, exIdx)
    assert(!postShuffle.contains("text#") && !postShuffle.contains("split("),
      s"tokenization/raw text crossed the per-source exchange:\n$p")
    assert(!p.contains("lang#") && !p.contains("n_chars#"),
      s"scan reads columns packing never touches:\n$p")
  }

  test("q103: mixture sampling never reads the text bytes") {
    val p = planOf("q103_mixture_sample")
    // the keep/drop decision is pure doc_id+source arithmetic: the text
    // column staying out of the read schema is what makes re-mixing a
    // 100 TB corpus a metadata-cost operation
    assert(!p.contains("text#"), s"sampling scan reads text:\n$p")
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("q104: shuffle-shards is ONE exchange (shard hash), reused by the agg") {
    val p = planOf("q104_shuffle_shards")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"shard assignment + per-shard agg should share one exchange, saw $shuffles:\n$p")
    assert(!p.contains("text#"), s"shard assignment reads text:\n$p")
  }

  test("q107: line-dedup exchanges digests, not line text") {
    val p = planOf("q107_line_dedup")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single documents scan, saw $scans:\n$p")
    // first-occurrence resolution partitions on the 16-byte digest — the
    // only thing the corpus-wide shuffle may carry besides (doc_id, idx)
    val exIdx = p.indexOf("hashpartitioning(lh")
    assert(exIdx >= 0, s"dedup window not partitioned on the line digest:\n$p")
    // root-first toString: operators printed before the digest exchange run
    // downstream of it and must never see the raw text or the token array —
    // the digest projection has to happen below the shuffle
    val postShuffle = p.substring(0, exIdx)
    assert(!postShuffle.contains("text#") && !postShuffle.contains("w#"),
      s"raw text/token array crossed the digest exchange:\n$p")
  }

  test("q109: the adaptive threshold broadcasts back; corpus never shuffle-joins") {
    val p = planOf("q109_adaptive_filter")
    // the per-source quantile table is KBs at any corpus size — the second
    // pass must be a broadcast hash join so the corpus side stays map-side
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join-back not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for a group-cardinality-sized threshold table:\n$p")
    assert(!p.contains("text#"), s"quality filter reads text bytes:\n$p")
  }

  test("q108: upsample fan-out is map-side; text never scanned") {
    val p = planOf("q108_source_upsample")
    assert(p.contains("Generate explode"), s"no generate fan-out:\n$p")
    assert(!p.contains("text#"), s"upsampling reads text for arithmetic on ids:\n$p")
    val genIdx = p.indexOf("Generate")
    val lastExIdx = p.lastIndexOf("Exchange")
    assert(genIdx >= 0 && (lastExIdx < 0 || genIdx > lastExIdx),
      s"explode must run below every exchange (map side):\n$p")
  }

  test("q111: bloom pre-filter probes the fact rows below the join exchange") {
    val p = planOf("q111_bloom_prune")
    val probeIdx = p.indexOf("might_contain")
    assert(probeIdx >= 0, s"bloom membership probe absent from the plan:\n$p")
    // root-first toString: every join prints BEFORE (above) the operators
    // that feed it — the probe must sit below the last join, on the scan
    // side, so non-member fact rows never reach the join's exchange
    val lastJoin = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(p.lastIndexOf).max
    assert(lastJoin >= 0, s"no keyed join in a bloom-pruned equi join:\n$p")
    assert(probeIdx > lastJoin,
      s"bloom probe runs above the join instead of pruning its input:\n$p")
    // the pruned scan stays narrow: only the four columns the query needs
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"),
      s"bloom-pruned scan reads columns the query never touches:\n$p")
  }

  test("q115: rollup is one Expand pass with map-side partial aggregation") {
    val p = planOf("q115_rollup")
    assert(p.contains("Expand"), s"rollup not compiled to Expand:\n$p")
    // exactly one scan: three grouping levels must not mean three passes
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"rollup re-scanned the fact table:\n$p")
    assert(p.contains("partial"), s"no map-side partial aggregation:\n$p")
  }

  test("q116: blocked fuzzy match stays a hash/merge join — never a cartesian") {
    val p = planOf("q116_fuzzy_match")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocking keys failed to keep the comparator join equi-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no keyed join:\n$p")
  }

  test("q110: one hash exchange serves the change-flag, version and interval windows") {
    val p = planOf("q110_scd2")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"SCD2 build should reuse a single user_id partitioning, found $hashExchanges:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(user_id), LessThan(user_id,50)]") ||
      p.contains("LessThan(user_id,50)"),
      s"entity-slice predicate not pushed to the scan:\n$p")
  }

  test("q138: margins/spine work on the cell table — the corpus scans once") {
    val p = planOf("q138_mutual_info")
    // one parquet scan feeds the cell aggregate; everything after the
    // localCheckpoint (margins, spine, MI/chi2) reads the checkpointed
    // k^2-row RDD, never the corpus
    assert("Scan parquet".r.findAllIn(p).size == 0 ||
      "Scan parquet".r.findAllIn(p).size == 1,
      s"MI spine work re-scanned the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"k^2-row frames must broadcast, not sort-merge:\n$p")
  }

  test("q141: bigram LM scoring joins are all broadcast (count tables are small)") {
    val p = planOf("q141_bigram_lm")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a count-table join shuffled the bigram stream:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"no broadcast join in the scoring path:\n$p")
  }

  test("global (unpartitioned) windows only ever run on bounded frames (repo-wide)") {
    // A WindowExec with an empty partitionSpec requires SinglePartition:
    // the whole input funnels through ONE sorting task. That is only
    // acceptable when the input is a bounded frame — post-aggregation
    // output (day/month/bucket spines, per-key reductions), a checkpointed
    // reduction (localCheckpoint(true) of a ≤|keys| frame — plans read it
    // back as an ExistingRDD scan), a top-k, or a literal/local relation.
    // A raw-table global window would be a 100 TB single-task sort. This
    // sweep walks every registered query's pre-AQE physical plan and
    // demands bounded-cardinality evidence on EVERY leaf path below every
    // global window (the round-10 sf1 log showed 426 single-partition
    // WindowExec warnings; this pin proves each one is a bounded frame,
    // not an accident).
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // bounded-cardinality evidence, leaf-ward: an aggregate bounds its
    // output by its group count; a limit/top-k bounds it literally; a
    // LocalTableScan/Range is a driver-built spine; an ExistingRDD scan is
    // a localCheckpoint — the repo convention (comment-pinned at each
    // site) is that only reduced frames are ever checkpointed. Everything
    // else (project/filter/generate/join/union/exchange/sort/window)
    // passes the question through to ALL its children.
    def bounded(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => true
      case _: LocalTableScanExec | _: RDDScanExec | _: RangeExec => true
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec | _: CollectLimitExec => true
      case _: WindowGroupLimitExec => true
      case _: FileSourceScanExec => false
      case leaf if leaf.children.isEmpty =>
        // an unlisted leaf (ReusedExchange, InMemoryTableScan, BatchScan…)
        // is a detector gap, not evidence either way — fail loudly so the
        // new node type gets classified instead of silently counting as
        // unbounded (false offender) or bounded (missed offender)
        fail(s"bounded(): unknown leaf node ${leaf.getClass.getSimpleName}" +
          " — classify it explicitly in this match")
      case other => other.children.forall(bounded)
    }
    // model fits / full streaming runs are excluded for test-minute cost,
    // exactly like the cartesian sweep above; their windows run on frames
    // pinned by their own specs
    var seen = 0
    val offenders = SparkEntry.registry
      .filterNot(q => heavyEager(q.name)).flatMap { q =>
        val plan = q.fn(spark, sf0001).queryExecution.sparkPlan
        val globals = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        seen += globals.size
        if (globals.exists(w => !bounded(w.child))) Some(q.name) else None
      }
    assert(offenders.isEmpty,
      s"global window over an unbounded frame in: ${offenders.mkString(", ")}")
    // vacuity guard: the registry HAS global-window plans (rank CDFs, day
    // spines, top-k lists) — zero sightings would mean the sweep stopped
    // looking (e.g. an API change hid WindowExec), not that the repo is clean
    assert(seen > 0, "sweep saw no global WindowExec at all — detector broken?")
  }

  test("every grouped row_number top-k plans the heap partial, not Spark's sort") {
    // Spark infers a WindowGroupLimit from `row_number() OVER (PARTITION
    // BY …) <= k`; with the graft strategy registered, its partial must be
    // graft.plans.PartialTopKPerKeyExec under Spark's Final limit — the one
    // grouped top-k mechanism of the engine
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
    import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
    import graft.plans.PartialTopKPerKeyExec
    GraftExtensions.register(spark)
    def grouped(f: org.apache.spark.sql.catalyst.expressions.Expression,
        keys: Seq[_]) = f.isInstanceOf[RowNumber] && keys.nonEmpty
    val topK = SparkEntry.registry.filterNot(q => heavyEager(q.name))
      .flatMap { q =>
        val qe = q.fn(spark, sf0001).queryExecution
        val logical = qe.optimizedPlan.collect {
          case l: WindowGroupLimit if grouped(l.rankLikeFunction,
            l.partitionSpec) => l
        }
        if (logical.isEmpty) None else Some(q.name -> qe.sparkPlan)
      }
    val offenders = topK.collect { case (name, plan) if {
        val limits = plan.collect {
          case w: WindowGroupLimitExec if grouped(w.rankLikeFunction,
            w.partitionSpec) => w
        }
        limits.exists(_.mode == Partial) || !limits.exists(w =>
          w.mode == Final && w.child.isInstanceOf[PartialTopKPerKeyExec])
      } => name
    }
    assert(offenders.isEmpty,
      s"grouped top-k without the heap partial in: ${offenders.mkString(", ")}")
    // vacuity guard: q09 q33 q48 q85 q91 q101 q143 q157 q158 q159 q221
    // q244 q271 q281 q297 q320 q321 q322 are grouped top-ks today
    assert(topK.size >= 18,
      s"only ${topK.size} grouped top-k queries seen: ${topK.map(_._1)}")
  }

  test("text queries never plan Spark's Lower/Upper/InitCap (no cold ICU title-case table)") {
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import scala.jdk.CollectionConverters._
    // Spark's Lower/Upper/InitCap evaluate through CollationAwareUTF8String,
    // whose static initializer title-cases every code point (~3 GB
    // allocated, ~1.6 s on one task thread, once per JVM);
    // graft.functions.CaseMap produces the same bytes without it. The spy
    // rule sees EVERY plan the optimizer runs while a query builds, so the
    // plans behind eager checkpoints (which the final frame only shows as
    // an RDD scan) are covered too.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    object CaseNodeSpy extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
          case e @ (_: Lower | _: Upper | _: InitCap) => seen.add(e.toString)
          case _ =>
        }))
        plan
      }
    }
    def caseNodes(build: => org.apache.spark.sql.DataFrame): Seq[String] = {
      seen.clear()
      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = prev :+ CaseNodeSpy
      try build.queryExecution.optimizedPlan
      finally spark.experimental.extraOptimizations = prev
      seen.asScala.toSeq
    }
    // vacuity guard: the spy does see Spark's own case mapping
    import org.apache.spark.sql.functions.{col, lower}
    assert(caseNodes(spark.range(3).select(lower(col("id").cast("string")))).nonEmpty,
      "spy rule saw no Lower in a plain lower() plan — detector broken?")
    // every query whose case mapping moved to the kernel: q26/q29/q31 and
    // the TextOps.tokens users that had private tokenizer copies
    // (Curation, Profiling, Training), q54's lower/upper
    val touched = Seq("q26_dedup_exact", "q29_quality_score", "q31_fingerprint",
      "q54_string_funcs", "q139_pmi_collocations", "q141_bigram_lm",
      "q142_bpe_merges", "q155_bpe_encode", "q299_token_budget_select",
      "q300_mixture_waterfill", "q303_curriculum_pacing", "q304_kappa_agreement",
      "q305_source_token_tvd", "q306_vocab_truncation", "q307_packing_forecast",
      "q308_ngram_dup_mass", "q309_quality_funnel", "q311_shard_skew",
      "q312_good_turing", "q317_contamination_report", "q318_epoch_plan",
      "q319_seqlen_histogram")
    val offenders = touched.flatMap { name =>
      val nodes = caseNodes(SparkEntry.queries(name)(spark, sf0001))
      if (nodes.nonEmpty) Some(s"$name: ${nodes.distinct.mkString(", ")}") else None
    }
    assert(offenders.isEmpty, s"Spark case-mapping nodes in: ${offenders.mkString("; ")}")
  }

  /** Committed construction-job counts at sf0.001 (see the budget test). */
  /** Construction jobs per query at sf0.001 after the eager-checkpoint
    * census: the perfbench tail workload plus every query that lost a
    * checkpoint (BENCH_NOTES "Eager checkpoint census"). */
  private val ConstructBudget: Seq[(String, Int)] = Seq(
    "q15_date_features" -> 0, "q29_quality_score" -> 0, "q35_ann_lsh" -> 0,
    "q36_minhash_lsh" -> 1, "q39_lag_features" -> 0, "q74_topk_sketch" -> 0,
    "q78_bucketed_join" -> 4, "q80_stratified_sample" -> 0,
    "q95_semantic_dedup" -> 0, "q104_shuffle_shards" -> 0,
    "q129_prefix_setsim" -> 1, "q139_pmi_collocations" -> 1,
    "q141_bigram_lm" -> 2, "q143_product_quantization" -> 69,
    "q144_triangle_count" -> 14, "q147_market_basket" -> 2,
    "q158_ivf_pq" -> 86, "q161_revenue_concentration" -> 4,
    "q162_ewma_trend" -> 0, "q164_skyline" -> 0, "q165_histogram" -> 0,
    "q167_ks_test" -> 4, "q172_kendall_tau" -> 0, "q180_stream_enrich" -> 0,
    "q194_weighted_median" -> 4, "q199_dominant_supplier" -> 0,
    "q201_label_separation" -> 0, "q215_kaplan_meier" -> 10,
    "q216_jw_reconcile" -> 0, "q218_eb_shrinkage" -> 0,
    "q238_quantile_normalize" -> 3, "q239_cluster_split" -> 12,
    "q242_key_gap_audit" -> 1, "q247_funnel_hazard" -> 0,
    "q248_neyman_allocation" -> 0, "q259_bipartite_audit" -> 22,
    "q260_shapley_attribution" -> 0, "q262_segment_odds" -> 0,
    "q263_price_endings" -> 2, "q264_poisson_baskets" -> 0,
    "q268_error_lift_grid" -> 0, "q269_energy_distance" -> 0,
    "q271_leaderboard_churn" -> 0, "q278_split_balance" -> 0,
    "q279_brand_diversity" -> 0, "q280_priority_mix_drift" -> 2,
    "q282_class_weights" -> 0, "q285_minhash_estimator" -> 1,
    "q289_stratified_ate" -> 0, "q291_heaps_fit" -> 3, "q297_int8_ann" -> 0,
    "q308_ngram_dup_mass" -> 0, "q310_lsh_workload" -> 0,
    "q311_shard_skew" -> 0, "q313_salt_plan" -> 0, "q314_dedup_pagerank" -> 9,
    "q315_k_anonymity" -> 0,
    // the block-offset rankings folded into Ranks
    "q53_window_stats" -> 3, "q130_global_index" -> 3,
    "q148_rfm_segments" -> 18, "q166_mann_whitney" -> 4,
    "q223_abc_classes" -> 4, "q225_zipf_fit" -> 4, "q231_exp_gap_fit" -> 5,
    "q293_conformal_interval" -> 22, "q306_vocab_truncation" -> 4)

  test("construction-job budget: the eager work before a query returns stays " +
    "at its committed count") {
    // Every job that runs before `fn(spark, dir)` returns is construction
    // work: eager checkpoints (and the AQE stage jobs under them), ML fits,
    // driver-side probes and collects. Counted per query under a per-query
    // job group at sf0.001; a count above its budget means a new eager job
    // crept into query construction. The list is the perfbench tail
    // workload's 16 queries plus every query whose checkpoints were found
    // to have no reason and deleted, and every query whose hand-copied
    // block-offset ranking now runs through Ranks (BENCH_NOTES "Eager
    // checkpoint census"). Table loads add none: `Tables` reads schemas
    // from the footer on the driver (the 35 zeros here were 1–2 schema
    // inference jobs each).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val budget = ConstructBudget
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("construct-"))
          .foreach(g => jobs.merge(g, 1, (a, b) => a + b))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      budget.foreach { case (name, _) =>
        spark.sparkContext.setJobGroup(s"construct-$name", name)
        try SparkEntry.queries(name)(spark, sf0001)
        finally spark.sparkContext.clearJobGroup()
      }
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      val got = budget.map { case (name, _) =>
        name -> jobs.getOrDefault(s"construct-$name", 0) }
      // vacuity guard: the tail list holds checkpointing queries, so a
      // listener that sees nothing is broken, not a clean result
      assert(got.map(_._2).sum > 0, "no construction job seen: listener broken?")
      val over = budget.zip(got).collect {
        case ((name, n), (_, g)) if g > n => s"$name: $g jobs > budget $n"
      }
      assert(over.isEmpty, s"construction jobs over budget:\n${over.mkString("\n")}")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
