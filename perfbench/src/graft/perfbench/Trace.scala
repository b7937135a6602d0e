package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch nanoseconds, so spans recorded by
  * the harness (nanoTime-based) and by Spark (epoch-millisecond based)
  * share one clock. `key` is the (container/session) a server-side span
  * belongs to, or "" when it has none. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startNs: Long, endNs: Long, key: String = "",
                      attrs: Map[String, String] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store and named counters/samples for a traced run.
  * Nothing is recorded unless the run is traced (`enabled`) and a
  * measured window is open (`recording`); outside that, `span` only runs
  * its body. */
final class Tracer(val enabled: Boolean) {
  @volatile var recording = false
  def on: Boolean = enabled && recording

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[java.lang.Double]]()
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def newId(): Long = nextId.getAndIncrement()

  def add(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as a span (when enabled); returns its result. */
  def span[T](name: String, layer: String, parent: Long = 0L, key: String = "",
              attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = newId(); val t0 = nowNs
      try body finally spans.add(Span(id, parent, name, layer, t0, nowNs, key, attrs))
    }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)
  def addSum(name: String, v: Double): Unit =
    if (on) sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def sample(name: String, v: Double): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[java.lang.Double]()).add(v)

  def counter(name: String): Long = Option(counters.get(name)).map(_.sum()).getOrElse(0L)
  def sum(name: String): Double = Option(sums.get(name)).map(_.sum()).getOrElse(0.0)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq.map(_.doubleValue)).getOrElse(Seq.empty)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Write spans as one JSON object per line. */
  def writeSpans(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"key":${Json.str(s.key)},"attrs":${Json.obj(s.attrs)}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]; NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
