package perfbench

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The program's memory use, from the JVM's memory beans and GC
  * notifications rather than the process's resident set (which a fixed
  * `-Xms` heap pins near its size).
  *
  * A window starts with a full collection and ends with two, all outside
  * any timer.
  * `alloc_mb` is the heap the window allocated: the growth of the heap
  * between one collection's end and the next one's start, summed.
  * `live_mb` is what the window left live: the heap in use after the
  * closing full collections plus the non-heap pools (metaspace, code cache).
  * The transient peak inside a window is not sampled: with a 3 GB heap a
  * pass sees only a handful of young collections, at timing-dependent
  * points. */
final class Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  /** (start ms since JVM start, heap before, heap after) of every collection. */
  private val log = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val entry = (gc.getStartTime, heap(gc.getMemoryUsageBeforeGc),
        heap(gc.getMemoryUsageAfterGc))
      synchronized { log += entry }
    }
  collectors.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(listener, null, null))
  /** Collections before the listener was added, which are never notified. */
  private val unnotified = collections

  private def heap(pools: java.util.Map[String, MemoryUsage]): Long =
    pools.asScala.collect { case (name, u) if heapPools(name) => u.getUsed }.sum

  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
  private def heapUsed: Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  private def collections: Long = collectors.map(_.getCollectionCount).sum
  private def notified: Long = synchronized { log.size.toLong }

  /** Blocks (at most 5 s) until every collection so far was notified. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (notified < collections - unnotified && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  final case class Window(startMs: Long, used0: Long)

  /** Collects the heap fully and starts a window (outside any timer). */
  def start(): Window = {
    System.gc()
    settle()
    Window(uptimeMs, heapUsed)
  }

  def stop(w: Window): Map[String, Any] = {
    val used1 = heapUsed
    settle()
    val gcs = synchronized(log.filter(_._1 >= w.startMs).toList)
    var last = w.used0
    var alloc = 0L
    gcs.foreach { case (_, before, after) =>
      alloc += math.max(0L, before - last)
      last = after
    }
    alloc += math.max(0L, used1 - last)
    // the first collection finds Spark's shuffle and broadcast handles
    // unreachable, but ContextCleaner frees what they hold only afterwards,
    // on its own thread; a second collection a second later sees the heap
    // without it (after a tail_sf0.01 pass, one collection left 94-159 MB
    // of heap in use, two leave 89-91 MB)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val mb = 1024.0 * 1024.0
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
    Map("alloc_mb" -> alloc / mb, "live_mb" -> (heapUsed + nonHeap) / mb)
  }
}
