package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap after garbage collection: the most heap found in use right
  * after any collection since `reset`, i.e. what the engine still held at
  * that moment plus what it had promoted and not yet freed. Each reset
  * starts from a full collection, so a run is charged only for what it
  * allocated itself, not for what earlier runs left behind.
  */
object HeapPeak {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private var peak = 0L
  private var seen = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { peak = math.max(peak, used); seen += 1 }
      }
  }
  collectors.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  // collections before the listener was added are never notified to it
  HeapPeak.synchronized { seen += collectors.map(_.getCollectionCount).sum }

  /** Notifications arrive after the collection; wait until every
    * collection so far has been seen (at most two seconds).
    */
  private def settle(): Unit = {
    val total = collectors.map(_.getCollectionCount).sum
    val deadline = System.nanoTime() + 2000000000L
    while (HeapPeak.synchronized(seen) < total && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def reset(): Unit = {
    System.gc()
    settle()
    HeapPeak.synchronized { peak = 0 }
  }

  /** The peak since `reset`, in MB (the heap in use now when no collection ran). */
  def mb(): Double = {
    settle()
    val p = HeapPeak.synchronized(peak)
    (if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1e6
  }
}
