package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.functions._

/** "Prove it tiny, then run it on the driver" — the one gate in front of
  * the driver-local paths of connected components and BFS
  * ([[graft.ops.Graph]]), q314 PageRank and the q142 BPE trainer
  * ([[graft.ops.Profiling]]). Each of those loops is correct distributed
  * at any size, but on the graphs and vocabularies the registry actually
  * builds (~160 near-dup nodes, 31 vocabulary types at sf0.1) every
  * distributed round is pure job-launch and checkpoint machinery
  * (optimization guide §1.2: "don't distribute a tiny loop"). */
object Adaptive {

  /** Row bound shared by the graph-shaped local paths (CC, BFS seeds and
    * edges, PageRank edges): at 2²⁰ (Long, Long) rows the collect holds
    * 84 MB of driver heap (see [[collectIfSmall]]) — safe at the mains'
    * 2–8 GB heaps — while a corpus-scale graph stays on the distributed
    * loop. */
  val LocalMaxRows: Long = 1L << 20

  /** `Some(rows)` when `df` is PROVEN small — at most `maxRows` rows and
    * Σ`weight` ≤ `maxWeight`, read by ONE aggregate job — and its column
    * types are exactly `T`'s; `None` sends the caller to its distributed
    * loop. The type check keeps every local loop total: a frame keyed by
    * Int (or anything but `T`'s types) takes the distributed path, which
    * handles any key type and keeps the caller's output schema, instead of
    * failing in the typed collect. On `Some`, a second job collects the
    * frame as `T` (tuple fields bind by position).
    *
    * Driver memory, measured (BENCH_NOTES, "collectIfSmall driver
    * memory"): 2²⁰ (Long, Long) rows retain 84 MB (~80 B/row — the
    * encoder builds a generic Tuple2 of two boxed Longs), and the heap
    * peaks up to ~310 MB above its baseline while the serialized task
    * results decode. */
  def collectIfSmall[T: Encoder](df: DataFrame, maxRows: Long,
      weight: Column = lit(0L), maxWeight: Long = 0L): Option[Array[T]] = {
    val enc = implicitly[Encoder[T]]
    if (df.schema.map(_.dataType) != enc.schema.map(_.dataType)) None
    else {
      val st = df.agg(count(lit(1)), coalesce(sum(weight), lit(0L))).head()
      if (st.getLong(0) <= maxRows && st.getLong(1) <= maxWeight)
        Some(df.as[T].collect())
      else None
    }
  }
}
