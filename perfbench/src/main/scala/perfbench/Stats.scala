package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One reported number: its value, unit and how many samples it summarises. */
final case class Metric(value: Double, unit: String, samples: Long)

/** A thread-safe bag of samples of one quantity. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(v: Double): Unit = q.add(v)
  def clear(): Unit = q.clear()
  def values: Vector[Double] = q.asScala.iterator.map(_.doubleValue).toVector
  def count: Int = q.size
  def pct(p: Double): Double = Stats.percentile(values, p)
}

object Stats {

  /** Linear-interpolated percentile (p in [0, 100]); 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def ms(ns: Long): Double = ns / 1e6
  def sec(ns: Long): Double = ns / 1e9

  /** Live heap in MB after a forced collection. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Total GC time of the JVM so far, ms. */
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
}
