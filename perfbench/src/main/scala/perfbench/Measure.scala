package perfbench

import java.lang.management.ManagementFactory
import java.util.Locale
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Order statistics over latency samples. Percentiles are nearest-rank
  * on the sorted samples; an empty sample set has no percentile. */
object Stats {
  def percentile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: scala.collection.Seq[Double]): Double = percentile(xs, 0.5)
}

/** One run's result: the metrics it measured plus the operations it
  * attempted and the ones that failed. A failure is listed by name and
  * never contributes a latency sample. */
final class Report {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(what: String): Unit = failures += what
  def failed: Long = failures.size.toLong
  def okRatio: Double = 1.0 - failed.toDouble / attempted
  def failureList: Seq[String] = failures.toSeq
  def values: Map[String, Double] = metrics.map { case (k, (v, _)) => k -> v }.toMap

  /** Sets every metric that came out NaN or infinite to 0 and returns
    * their names. */
  def clearUnmeasured(): Seq[String] = {
    val bad = metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }.toSeq
    bad.foreach(k => metrics(k) = (0.0, metrics(k)._2))
    bad
  }

  /** The result line: one JSON object, metrics in insertion order. */
  def json: String = {
    def num(v: Double): String = String.format(Locale.ROOT, "%.9g", Double.box(v))
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Heap used after each full collection (GC MXBean notifications), its
  * maximum over the run, and total collection time. [[sample]] forces a
  * full collection at the points the workloads choose. */
object Heap {
  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong(0L)
  private var gcMs0 = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // after a young collection the old generation still holds garbage;
        // only a full collection leaves the live set
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          peakAfterGc.accumulateAndGet(used, math.max(_, _))
        }
      }
  }

  def install(): Unit = {
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
    gcMs0 = gcMillis
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Collect in full and sample the live set at this point. */
  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakAfterGc.accumulateAndGet(used, math.max(_, _))
  }
  def peakMiB: Double = peakAfterGc.get / 1048576.0
  def gcSeconds: Double = (gcMillis - gcMs0) / 1e3
}

object Clock {
  /** Wall-clock nanoseconds since the epoch at microsecond resolution,
    * comparable across the benchmark's processes on one host. */
  private val anchorNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val nano0 = System.nanoTime()
  def epochNs(): Long = anchorNs + (System.nanoTime() - nano0)

  /** JVM start as epoch nanoseconds (millisecond resolution). */
  def jvmStartNs: Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
}
