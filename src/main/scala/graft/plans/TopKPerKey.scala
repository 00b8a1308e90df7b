package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Expression, RowNumber, RowOrdering, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, WindowGroupLimit}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.window.{Final, WindowGroupLimitExec}

/** Heap-planned grouped top-k. Since Spark 3.5, `InferWindowGroupLimit`
  * rewrites `row_number() OVER (PARTITION BY keys ORDER BY …) <= k` into a
  * logical `WindowGroupLimit`, which Spark plans as a Partial
  * `WindowGroupLimitExec` before the exchange and a Final one after it.
  * Spark's partial SORTS the whole partition to find the first k rows per
  * key. This strategy plans the same logical node with the partial
  * replaced by [[PartialTopKPerKeyExec]], which keeps a k-row heap per key
  * and never sorts the partition; the Final limit, the exchange and the
  * window above it are Spark's own. Either partial sends at most k rows
  * per key seen in the partition to the exchange (past the heap budget,
  * the overflow valve below passes rows through unpruned).
  *
  * Only `RowNumber` is matched: `rank`/`dense_rank` `<= k` can need more
  * than k rows per key at a tie, so they stay on Spark's partial. A session
  * without the strategy gets Spark's plan, with the same answer.
  *
  * ORDER CONTRACT (Spark's partial has the same one): with an order that is
  * not total within a key, WHICH of the rows tied at the k boundary
  * survives depends on the partitioning; the multiset of order values is
  * still exact. TopKPerKeySpec ("non-total order") pins that.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WindowGroupLimit(keys, order, rn: RowNumber, k, child)
        if keys.nonEmpty =>
      WindowGroupLimitExec(keys, order, rn, k, Final,
        PartialTopKPerKeyExec(keys, order, k, PartialTopKPerKeyExec.MaxKeys,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Per-partition state is one k-row heap per DISTINCT KEY SEEN IN THE
  * PARTITION, capped at `maxKeys` heaps. Past the cap, rows of NEW keys
  * stream through unpruned AND unbuffered: the overflow valve emits each
  * over-cap row the moment it arrives, so memory past the heap budget is
  * O(1). Pruning is only ever an optimization, so the valve costs
  * throughput, never correctness (TopKPerKeySpec pins both). */
case class PartialTopKPerKeyExec(
    keyExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxKeys: Int,
    child: SparkPlan) extends UnaryExecNode {
  require(k > 0 && maxKeys > 0)

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

object PartialTopKPerKeyExec {
  /** Heap budget per partition: 2²⁰ keys × k rows. */
  val MaxKeys: Int = 1 << 20
}
