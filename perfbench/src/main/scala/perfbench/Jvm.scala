package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Process-level cost signals: CPU seconds and old-generation occupancy
  * after full garbage collections (the live set). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads: Spark driver and executors, GC, JIT). */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU time of the calling thread only. */
  def threadCpuS: Double = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")

  private val oldPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val oldLast = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // only full collections: after a young one the old gen still holds
        // promoted garbage, and how much depends on when the collection ran
        if (info.getGcAction == "end of major GC")
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (isOld(pool)) {
              oldPeak.accumulateAndGet(u.getUsed, (a: Long, b: Long) => math.max(a, b))
              oldLast.set(u.getUsed)
            }
          }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Starts a peak window: a full collection first, so the window's peak
    * is the live set the measured work adds, not garbage left before it. */
  def resetPeak(): Unit = {
    System.gc()
    Thread.sleep(50) // GC notifications arrive on their own thread
    oldPeak.set(0L)
  }

  /** Peak old-gen occupancy after a full GC since [[resetPeak]], in MB:
    * the larger of any full collection inside the window and the live set
    * at its end. The end is read after a second collection, because Spark
    * releases broadcast and shuffle blocks only once the first one has
    * cleared their references on the Spark driver. */
  def peakMb: Double = {
    val inside = oldPeak.get
    System.gc()
    Thread.sleep(200)
    System.gc()
    Thread.sleep(50)
    math.max(inside, oldLast.get) / (1024.0 * 1024.0)
  }
}
