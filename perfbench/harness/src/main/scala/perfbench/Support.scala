package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak retained heap during a pass, from the JVM's garbage-collection
  * notifications: the largest heap occupancy left right after a collection
  * since [[reset]]. The occupancy just before a collection only tracks how
  * far the collector lets the young generation grow, which is set by the
  * heap size, not by what the program keeps.
  */
final class HeapWatch {
  @volatile private var peak = 0L
  @volatile private var collections = 0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.this.synchronized { collections += 1; if (after > peak) peak = after }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L; collections = 0 }

  /** With no collection in the pass, the occupancy at its end. */
  def peakMb(): Double = synchronized {
    (if (collections > 0) peak
     else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

/** Cumulative JVM collection and JIT compilation time, in milliseconds. */
object JvmTimes {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** A fixed pure-JVM CPU and allocation loop. Its time moves only with the
  * host (CPU contention, page provisioning), never with the program, so it
  * tells host drift apart from program change.
  */
object HostProbe {
  @volatile private var sink = 0L

  def run(): Double = {
    val t0 = System.nanoTime
    var acc = 0L
    var r = 0
    while (r < 64) {
      val a = new Array[Long](1 << 18)
      var i = 0
      while (i < a.length) { a(i) = acc * 6364136223846793005L + i; acc ^= a(i) >>> 7; i += 1 }
      r += 1
    }
    sink = acc
    (System.nanoTime - t0) / 1e9
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer: values arrive already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
