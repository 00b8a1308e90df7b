package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility (round-9 scale smoke): synthesize an N×-replicated copy of
  * a testdata SF dir so the full board can run at 10× the bench scale
  * without new driver data. Each fact table unions N key-shifted
  * replicas; the tiny dimension tables (region, nation) copy through
  * unchanged. Value/timestamp columns repeat verbatim, so densities
  * (events per hour, docs per shard) scale with the data — the stress
  * direction a 100 TB cluster run would take. Outputs single `.parquet`
  * FILES matching the driver layout `Tables.load` expects.
  *
  * Referential integrity: key offsets are computed once per key FAMILY
  * from the PARENT table's max (custkey from customer, partkey from part,
  * suppkey from supplier, orderkey from orders, doc/vec from documents —
  * vec_id = doc_id by construction, Retrieval.scala:139) and applied to
  * BOTH the parent and every child FK column. A per-child-column offset
  * (the first cut) silently dangles FKs whenever the child's own max is
  * below the parent's — e.g. TPC-H dbgen leaves ~1/3 of customers
  * orderless, so max(o_custkey) < max(c_custkey) and replica orders would
  * point into the wrong replica's customers. A post-generation anti-join
  * spot-check asserts the scaled corpus carries exactly mult× the base
  * corpus's orphan count on every FK edge.
  *
  * Content distinctness (round 10): replica i>0 of `documents` prefixes
  * every token with "r<i>" and replica i>0 of `embeddings` circularly
  * rotates the vector by i positions. Verbatim clones would make every
  * doc/vector 10-way duplicated, inflating the near-dup PAIR stream
  * ~mult²/2 (each doc's clones alone add C(mult,2) jaccard-1.0 pairs) —
  * the smoke would then measure a 45×-bigger-OUTPUT problem instead of
  * 10× more data. Real 10× corpora bring new content; token-prefixing
  * gives disjoint shingle spaces across replicas (pair counts scale
  * linearly with mult) and rotation decorrelates embedding directions
  * the same way. Within-replica similarity structure repeats verbatim,
  * so per-replica densities still match the base corpus.
  *
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/sf1 10"
  */
object GenScale {

  /** Key families: family → (parent table, parent column). The family's
    * single offset comes from max(parent column) + 1. */
  private val families: Map[String, (String, String)] = Map(
    "custkey" -> ("customer", "c_custkey"),
    "suppkey" -> ("supplier", "s_suppkey"),
    "partkey" -> ("part", "p_partkey"),
    "orderkey" -> ("orders", "o_orderkey"),
    "dockey" -> ("documents", "doc_id"),
    "eventkey" -> ("events", "event_id"),
    "userkey" -> ("events", "user_id"))

  /** table → (column → key family). */
  private val keyCols: Map[String, Map[String, String]] = Map(
    "region" -> Map.empty,
    "nation" -> Map.empty,
    "customer" -> Map("c_custkey" -> "custkey"),
    "supplier" -> Map("s_suppkey" -> "suppkey"),
    "part" -> Map("p_partkey" -> "partkey"),
    "orders" -> Map("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem" -> Map("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
      "l_suppkey" -> "suppkey"),
    "events" -> Map("event_id" -> "eventkey", "user_id" -> "userkey"),
    "documents" -> Map("doc_id" -> "dockey"),
    "embeddings" -> Map("vec_id" -> "dockey"))

  /** FK edges spot-checked post-generation:
    * (child table, child col, parent table, parent col). */
  private val fkEdges: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("embeddings", "vec_id", "documents", "doc_id"))

  private def orphans(child: DataFrame, ck: String,
      parent: DataFrame, pk: String): Long =
    child.select(col(ck).as("k"))
      .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti").count()

  def main(args: Array[String]): Unit = {
    val (src, out, mult) = (args(0), args(1), args(2).toInt)
    require(mult >= 1)
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // one offset per key family, from the PARENT table's own max
    val offsets: Map[String, Long] = families.map { case (fam, (pt, pc)) =>
      fam -> (Tables.load(spark, src, pt)
        .agg(max(col(pc))).head().getLong(0) + 1L)
    }
    Tables.names.foreach { t =>
      val base = Tables.load(spark, src, t)
      val keys = keyCols(t)
      // rotation by r >= dim would produce a negative slice length
      // (runtime failure with no pointer at the cause) or, at r == dim,
      // a degenerate identity rotation — guard once per table, lazily
      // (only the embeddings branch forces it)
      lazy val embDim = {
        val v = base.selectExpr("min(size(embedding))").head().getAs[Any](0)
        require(v != null, s"table '$t': min(size(embedding)) is NULL — " +
          "empty table or all-NULL embedding column; cannot derive dim")
        v.asInstanceOf[Int]
      }
      val scaled =
        if (keys.isEmpty || mult == 1) base
        else (0 until mult).map { i =>
          val shifted = keys.foldLeft(base) { case (df, (c, fam)) =>
            df.withColumn(c, col(c) + lit(i * offsets(fam)))
          }
          // content distinctness for replicas (see scaladoc): new ids must
          // carry NEW content or the dedup/ANN families face a mult²/2
          // pair blow-up instead of a 10× corpus
          (t, i) match {
            case ("documents", r) if r > 0 =>
              shifted.withColumn("text",
                regexp_replace(col("text"), "(\\S+)", s"r$r$$1"))
            case ("embeddings", r) if r > 0 =>
              // rotation alone distinguishes dim replicas; composing a
              // global sign flip on every second rotation cycle doubles
              // that to 2·dim content-distinct replicas (negation
              // preserves norms and pairwise angles within a replica, so
              // ANN recall structure is unchanged — cosine to a negated
              // replica flips sign, which only ADDS spread like the
              // rotation itself does)
              require(mult - 1 < 2 * embDim,
                s"mult=$mult needs ${mult - 1} distinct replicas but " +
                  s"rotation+negation of dim $embDim yields only " +
                  s"${2 * embDim}; replicas would collide")
              val rot = r % embDim
              val rotated =
                if (rot == 0) col("embedding")
                else concat(
                  slice(col("embedding"), lit(rot + 1),
                    size(col("embedding")) - lit(rot)),
                  slice(col("embedding"), lit(1), lit(rot)))
              shifted.withColumn("embedding",
                if (r < embDim) rotated
                else transform(rotated, x => -x))
            case _ => shifted
          }
        }.reduce(_ unionByName _)
      GenShape.writeTable(scaled, out, t)
      println(s"[genscale] $t x$mult -> $out/$t.parquet")
    }
    // FK spot-check: every edge's scaled orphan count must be exactly
    // mult× the base count (0 stays 0; a per-column-offset bug shows up
    // as extra orphans or, worse, cross-replica links — caught because a
    // cross-link REMOVES an expected orphan as often as it adds one)
    fkEdges.foreach { case (ct, ck, pt, pk) =>
      val baseOrphans = orphans(Tables.load(spark, src, ct), ck,
        Tables.load(spark, src, pt), pk)
      val scaledOrphans = orphans(Tables.load(spark, out, ct), ck,
        Tables.load(spark, out, pt), pk)
      require(scaledOrphans == mult * baseOrphans,
        s"FK $ct.$ck -> $pt.$pk: scaled orphans $scaledOrphans != " +
          s"$mult x base $baseOrphans — replica key shift broke integrity")
      println(s"[genscale] fk-check $ct.$ck -> $pt.$pk ok " +
        s"($scaledOrphans orphans = $mult x $baseOrphans)")
    }
    spark.stop()
  }
}
