package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Ckpt._

/** Dev utility (round 17): phase-level timing of the q142 BPE trainer on a
  * given corpus — where does the wall clock actually go? The round-16 blob
  * board put q142 at 145 s and the obvious suspect was the per-merge
  * vocabulary-wide bigram explode; the round-17 incremental pair-count
  * maintenance removed 5 of the 6 explodes but only bought ~12%, so the
  * dominant term is elsewhere. This probe times each phase in isolation:
  *
  *  - TOKENIZE+VOCAB: corpus scan → token explode → (token, freq) groupBy
  *  - ENCODE: per-type space-wrapped symbol string build (split + HOF
  *    filter + array_join) + repartition + eager checkpoint
  *  - PAIRS0: the one full pair-statistics pass (production: the
  *    BpePairCounts typed aggregate)
  *  - per merge k: ARGMAX (on the maintained pair table), HIT (contains
  *    filter + checkpoint), DELTA (bigram explode over hit words only,
  *    union-sum, checkpoint), VOCAB (full replace + checkpoint)
  *
  *   SPARK_DRIVER_MEM=96g SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.ProbeBpe /tmp/blob1"
  */
object ProbeBpe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/blob1")
    val merges = args.drop(1).find(a => a.nonEmpty && a.forall(_.isDigit))
      .map(_.toInt).getOrElse(6)
    val spark = GraftSession.local(sfDir = Some(dir))

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[probe-bpe] $label%-18s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }

    // `q155` mode: ONLY the production trainer + encode pass, in this
    // fresh session — the RunOne-q155-equivalent sequence, phase-timed
    if (args.contains("q155")) {
      val prodRules = timed("TRAIN-PROD") {
        graft.ops.Profiling.bpeMerges(spark, dir, merges).collect()
          .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("lhs"),
            r.getAs[String]("rhs")))
          .sortBy(_._1).map(t => (t._2, t._3)).toSeq
      }
      timed("ENCODE-PASS") {
        Tables.documents(spark, dir)
          .select(col("source"),
            filter(graft.ops.TextOps.tokens(col("text")), t => t =!= "").as("tk"))
          .select(col("source"), size(col("tk")).as("nt"),
            graft.functions.BpeOps.symbolSum(col("tk"), prodRules).as("ns"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).cast("long").as("n_tokens"),
            sum(col("ns")).cast("long").as("n_symbols"))
          .write.mode("overwrite").format("noop").save()
      }
      spark.stop()
      return
    }

    val vocabCounts = timed("TOKENIZE+VOCAB") {
      Tables.documents(spark, dir)
        .select(explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .eagerCkpt
    }
    System.err.println(s"[probe-bpe] vocab types: ${vocabCounts.count()}")

    val words = timed("ENCODE") {
      vocabCounts
        .select(col("freq"),
          concat(lit(" "),
            array_join(filter(split(col("tok"), ""), x => x =!= ""), "  "),
            lit(" ")).as("s"))
        .repartition(spark.sparkContext.defaultParallelism).eagerCkpt
    }

    // production shape (Profiling.bpeMerges): one typed aggregate pass
    def pairsOf(df: DataFrame): DataFrame = {
      val pc = udaf(new graft.functions.BpePairCounts(),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      df.agg(pc(col("s"), col("freq")).as("m"))
        .select(explode(col("m")))
        .select(col("key").as("pair"), col("value").as("c"))
    }

    var counts = timed("PAIRS0")(pairsOf(words).eagerCkpt)
    System.err.println(s"[probe-bpe] distinct pairs: ${counts.count()}")
    var vocab = words
    val rules = Seq.newBuilder[(String, String)]
    for (k <- 1 to merges) {
      val best = timed(s"ARGMAX $k") {
        counts.orderBy(col("c").desc, col("pair")).limit(1).head()
      }
      val Array(a, b) = best.getAs[String]("pair").split(" ", 2)
      System.err.println(s"[probe-bpe]   merge $k: '$a'+'$b' c=${best.getAs[Long]("c")}")
      rules += ((a, b))
      if (k < merges) {
        val pat = s" $a  $b "
        val hit = timed(s"HIT $k")(vocab.filter(col("s").contains(pat)).eagerCkpt)
        counts = timed(s"DELTA $k") {
          val rewritten = hit.withColumn("s",
            replace(col("s"), lit(pat), lit(s" $a$b ")))
          counts
            .union(pairsOf(rewritten))
            .union(pairsOf(hit).select(col("pair"), (-col("c")).as("c")))
            .groupBy("pair").agg(sum(col("c")).cast("long").as("c"))
            .filter(col("c") > 0)
            .eagerCkpt
        }
        vocab = timed(s"VOCAB $k") {
          vocab.withColumn("s", replace(col("s"), lit(pat), lit(s" $a$b ")))
            .eagerCkpt
        }
      }
    }
    // the PRODUCTION trainer (Profiling.bpeMerges — lazily-chained vocab,
    // no per-merge checkpoint) in this same session, for the q155-exact
    // interaction check
    timed("TRAIN-PROD") {
      graft.ops.Profiling.bpeMerges(spark, dir, 6).collect()
    }
    // the q155 tail: apply the learned rules to every document token and
    // aggregate per source (the BpeSymbolSum kernel pass)
    timed("ENCODE-PASS") {
      Tables.documents(spark, dir)
        .select(col("source"),
          filter(graft.ops.TextOps.tokens(col("text")), t => t =!= "").as("tk"))
        .select(col("source"), size(col("tk")).as("nt"),
          graft.functions.BpeOps.symbolSum(col("tk"), rules.result()).as("ns"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("n_tokens"),
          sum(col("ns")).cast("long").as("n_symbols"))
        .write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
