package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{col, desc, row_number}

/** Map-side partial top-k-per-key — the missing "combiner" for grouped
  * top-k, built as the full (c) tier of the extension ladder: a custom
  * logical operator ([[PartialTopKPerKey]]), a planner strategy
  * ([[TopKStrategy]]) and a physical operator ([[PartialTopKPerKeyExec]]),
  * registered through `SparkSessionExtensions`
  * ([[graft.GraftExtensions]]).
  *
  * Why: the standard grouped-top-k plan —
  * `row_number() OVER (PARTITION BY key ORDER BY …) <= k` — shuffles EVERY
  * input row to its key's reducer and sorts there; the filter that throws
  * away all but k rows per key runs entirely AFTER the exchange. Global
  * top-k has `TakeOrderedAndProject` (per-partition prune, tiny shuffle);
  * per-KEY top-k has no Spark counterpart. This operator is that
  * counterpart: each scan partition keeps at most k rows per key in a
  * bounded heap, so the exchange moves ≤ k·|keys seen in the partition|
  * rows instead of the whole corpus — on a 100 TB fact table with a
  * bounded key domain, the shuffle shrinks by orders of magnitude while
  * the downstream window produces EXACTLY the same result (pruned rows
  * can never be in the true per-key top k of their own partition, let
  * alone globally).
  *
  * Memory safety: per-partition state is one k-row heap per DISTINCT KEY
  * SEEN IN THAT PARTITION, capped at `maxKeys` heaps. Past the cap, rows
  * of NEW keys stream through unpruned AND unbuffered — the overflow
  * valve emits each over-cap row the moment it arrives, so extra memory
  * past the heap budget is O(1) even when a partition is dominated by
  * over-cap keys. Pruning is only ever an optimization, so the valve
  * degrades throughput, never correctness (TopKPerKeySpec pins both
  * properties).
  *
  * ORDER CONTRACT: `order` must be a TOTAL order over rows within a key
  * (in practice: include a unique tie-break column, e.g. a primary key,
  * as the last sort term). With a non-total order, rows tied at the heap
  * boundary are pruned arbitrarily per partition, while the downstream
  * rank window breaks the same ties by encounter order — so WHICH tied
  * row survives is nondeterministic across runs/partitionings (the
  * surviving MULTISET of order-values is still exact). TopKPerKeySpec
  * ("non-total order") demonstrates the documented behavior.
  */
case class PartialTopKPerKey(
    keyExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxKeys: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0 && maxKeys > 0)
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Plans [[PartialTopKPerKey]] as [[PartialTopKPerKeyExec]]. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialTopKPerKey(keys, order, k, maxKeys, child) =>
      PartialTopKPerKeyExec(keys, order, k, maxKeys, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartialTopKPerKeyExec(
    keyExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxKeys: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (keys, ord, kk, cap) = (keyExprs, order, k, maxKeys)
    child.execute().mapPartitions({ iter =>
      new Iterator[InternalRow] {
        private val keyProj = UnsafeProjection.create(keys, childOutput)
        // total order over rows; PriorityQueue surfaces the MAX (= the
        // worst row currently kept) at the head
        private val rowOrd = RowOrdering.create(ord, childOutput)
          .asInstanceOf[Ordering[InternalRow]]
        private val heaps = mutable.HashMap.empty[UnsafeRow,
          mutable.PriorityQueue[InternalRow]]
        private var pending: InternalRow = null
        private var drain: Iterator[InternalRow] = null

        // Absorb rows into the bounded heaps until either an over-cap row
        // must stream through (emitted NOW, not buffered — only the k-row
        // heaps ever hold copies) or the input is exhausted (then the
        // heaps drain). Emitted passthrough rows are the child's own
        // (possibly reused) rows, per narrow-operator convention: the
        // pending slot is cleared before the next child row is pulled.
        private def absorb(): InternalRow = {
          while (iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            heaps.get(key) match {
              case Some(pq) =>
                if (pq.size < kk) pq.enqueue(row.copy())
                else if (rowOrd.compare(row, pq.head) < 0) {
                  pq.dequeue(); pq.enqueue(row.copy())
                }
              case None if heaps.size < cap =>
                val pq = new mutable.PriorityQueue[InternalRow]()(rowOrd)
                pq.enqueue(row.copy())
                heaps.put(key.copy(), pq)
              case None =>
                // overflow valve: unknown key past the heap budget —
                // stream the row out unpruned (correct, just less pruning)
                return row
            }
          }
          null
        }

        override def hasNext: Boolean = {
          if (pending != null) true
          else if (drain != null) drain.hasNext
          else {
            pending = absorb()
            if (pending != null) true
            else {
              drain = heaps.valuesIterator.flatMap(_.iterator)
              drain.hasNext
            }
          }
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          if (pending != null) { val r = pending; pending = null; r }
          else drain.next()
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Public Column-API surface over the operator. */
object TopKPerKey {

  /** Insert the map-side prune below whatever consumes `df`. `orderBy`
    * follows the (column, ascending?) convention. Registers the planner
    * strategy on the live session (idempotent), so the node always plans. */
  def pruned(df: DataFrame, keys: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int,
      maxKeys: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val plan = GraftSql.analyzedPlan(df)
    val resolve: String => Expression = name =>
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name)}"))
    val sortOrder = orderBy.map { case (name, asc) =>
      SortOrder(resolve(name), if (asc) Ascending else Descending)
    }
    GraftSql.ofRows(spark,
      PartialTopKPerKey(keys.map(resolve), sortOrder, k, maxKeys, plan))
  }

  /** Exact grouped top-k: map-side prune, then the standard rank window
    * over the (drastically smaller) survivor set. Output = input columns
    * plus `rn` (1-based rank within key). */
  def topK(df: DataFrame, keys: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val surv = pruned(df, keys, orderBy, k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map { case (n, asc) =>
        if (asc) col(n).asc else desc(n) }: _*)
    surv.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Install [[TopKStrategy]] on a live session (idempotent); the
    * spark.sql.extensions path goes through [[graft.GraftExtensions]]. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
}
