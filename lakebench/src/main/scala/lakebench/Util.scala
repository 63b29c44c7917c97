package lakebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated percentile `p` (0..100) of `xs`; NaN when there
    * are no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of `ps` that keeps at least ten samples beyond it
    * (falling back to the median), with its value. */
  def tail(xs: Seq[Double], ps: Seq[Double] = Seq(99.9, 99, 90, 75)): (Double, Double) =
    ps.find(p => xs.size * (100 - p) / 100 >= 10)
      .map(p => p -> pct(xs, p)).getOrElse(50.0 -> median(xs))

  /** Named percentile `p`, or the highest one with ten samples beyond it
    * when there are too few samples for `p`. */
  def capped(xs: Seq[Double], p: Double): (Double, Double) =
    if (xs.size * (100 - p) / 100 >= 10) p -> pct(xs, p)
    else tail(xs, Seq(99.9, 99, 90, 75).filter(_ < p))
}

/** One end-to-end figure of a workload, under the name later issues cite. */
final case class Named(name: String, value: Double, unit: String, samples: Int,
    percentile: Option[Double] = None)

/** Spans and counters recorded by the harness around its calls into each
  * layer. Spans live in memory and are written out when the run ends.
  * With `armed = false` nothing is recorded and `span` is a plain call. */
final class Trace(val armed: Boolean) {
  /** Recording switch; a traced run turns it off for its untraced half. */
  @volatile var on: Boolean = armed
  final case class Span(id: Long, parent: Long, name: String, key: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val parentOnThread = new ThreadLocal[java.lang.Long]
  /** Parent for spans opened on threads with no span of their own (the
    * server's worker threads while a single client runs one statement). */
  @volatile var ambientParent: Long = 0L

  def span[A](name: String, key: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = parentOnThread.get()
      val parent = if (outer != null) outer.longValue else ambientParent
      parentOnThread.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, key, t0, System.nanoTime()))
        if (outer == null) parentOnThread.remove() else parentOnThread.set(outer)
      }
    }

  /** Opens a span whose id later spans on any thread take as parent. */
  def ambient[A](name: String, key: String = "")(body: => A): A =
    if (!on) body
    else span(name, key) {
      ambientParent = parentOnThread.get()
      try body finally ambientParent = 0L
    }

  def count(name: String, n: Long = 1): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = { spans.clear(); counters.clear() }

  /** Spans as JSON, capped so one run's file stays small. */
  def toJson(limit: Int = 20000): com.fasterxml.jackson.databind.node.ArrayNode = {
    val arr = Json.M.createArrayNode()
    all.sortBy(_.startNs).take(limit).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      if (s.key.nonEmpty) o.put("key", s.key)
      o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
    }
    arr
  }
}

object Json {
  val M = new ObjectMapper()
  def obj(): ObjectNode = M.createObjectNode()
  def write(path: Path, node: com.fasterxml.jackson.databind.JsonNode): Unit = {
    Files.createDirectories(path.getParent)
    M.writerWithDefaultPrettyPrinter().writeValue(path.toFile, node)
  }
}

/** JVM-layer readings: collector time and heap. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapMbAfterGc: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def flags: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  def version: String = System.getProperty("java.runtime.version")
}

object Files2 {
  /** Total bytes of regular files under `dir` (0 when absent). */
  def du(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}

/** Zipf(s = 1) rank sampler over `n` items, by inverse CDF. */
final class Zipf(n: Int, s: Double = 1.0) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(r: java.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
