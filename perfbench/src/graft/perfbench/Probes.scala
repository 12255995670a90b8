package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Peak post-GC heap: after every collection, the sum of the heap pools'
  * usage after GC; the maximum over the run is the heap the driver needed. */
final class HeapPeak {
  @volatile var peakBytes: Long = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def peakMb: Double = peakBytes / 1048576.0
}

/** Busy core-seconds of the whole host and of this process, to record how
  * much CPU other processes burned during a measured interval (the method
  * graft.Bench uses: /proc/stat busy time minus this process's CPU). */
object HostCpu {
  final case class Sample(hostBusyS: Double, processCpuS: Double, wallS: Double)

  def sample(): Sample = {
    val host = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val f = l.trim.split("\\s+").drop(1).map(_.toDouble)
      // user+nice+system, then irq+softirq+steal; idle and iowait skipped
      (f.take(3).sum + f.slice(5, 8).sum) / 100.0
    } catch { case _: Throwable => Double.NaN }
    val proc = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }
    Sample(host, proc, System.nanoTime() / 1e9)
  }

  /** Core-seconds burned by other processes between two samples. */
  def foreignCoreS(a: Sample, b: Sample): Double =
    math.max(0.0, (b.hostBusyS - a.hostBusyS) - (b.processCpuS - a.processCpuS))
}

object JvmGc {
  def pauseS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}
