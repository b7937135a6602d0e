package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded traffic for the service workloads. The seed fixes every
  * property the service's behaviour depends on: session popularity
  * skew, batch size, message length, level mix, timestamps and the
  * selectivity of GET time ranges. */
object Traffic {
  val Levels: Array[String] = Array("DEBUG", "INFO", "WARN", "ERROR")
  private val Words: Array[String] =
    ("request served cache miss hit retry timeout user order payment db query shard " +
     "node disk read write flush commit compaction error warning started stopped ok " +
     "failed latency upstream client session token").split(" ")
  /** Session timestamps start here (2025-01-01T00:00:00Z). */
  val BaseMs = 1735689600000L

  def logUniform(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo)))

  /** Cumulative Zipf(s) weights over `n` ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def pick(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** One POST body and what it carries. */
  final case class Batch(tsMs: Array[Long], json: String, rawBytes: Long)

  /** Generator and acknowledgement ledger of one session. Timestamps
    * rise monotonically, so the rows of any time range are a contiguous
    * slice of `ts`. Only one client writes a session, so batches are
    * sent and acknowledged in order. */
  final class SessionGen(val name: String, r: SplittableRandom, index: Int) {
    private val gapMeanMs = logUniform(r, 2, 4000)
    private val msgMedian = logUniform(r, 32, 96)
    private val levelCdf = {
      val w = Array(logUniform(r, 0.05, 2), logUniform(r, 0.5, 4), logUniform(r, 0.05, 1),
                    logUniform(r, 0.01, 0.5))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    private var nextMs = BaseMs + index * 86400000L
    private val ts = ArrayBuffer.empty[Long]
    @volatile private var ackedN = 0
    @volatile private var sentN = 0
    @volatile var ackedBytes = 0L

    def batch(r: SplittableRandom, rows: Int): Batch = {
      val out = new Array[Long](rows)
      val sb = new StringBuilder("{\"logs\":[")
      var raw = 0L
      var i = 0
      while (i < rows) {
        nextMs += 1 + (-math.log(1 - r.nextDouble()) * gapMeanMs).toLong
        out(i) = nextMs
        val level = Levels(pick(r, levelCdf))
        val msg = message(r)
        if (i > 0) sb += ','
        sb ++= "{\"timestamp\":\"" ++= java.time.Instant.ofEpochMilli(nextMs).toString ++=
          "\",\"level\":\"" ++= level ++= "\",\"message\":\"" ++= msg ++= "\"}"
        raw += 8 + level.length + msg.length
        i += 1
      }
      Batch(out, sb.append("]}").toString, raw)
    }

    private def message(r: SplittableRandom): String = {
      val len = math.max(4, (msgMedian * math.exp(r.nextGaussian() * 0.6)).toInt)
      val sb = new StringBuilder
      while (sb.length < len) {
        if (sb.nonEmpty) sb += ' '
        sb ++= Words(r.nextInt(Words.length))
      }
      sb.toString
    }

    /** Record a batch as sent (before the POST goes out). */
    def sent(b: Batch): Unit = synchronized { ts ++= b.tsMs; sentN = ts.length }
    /** The POST was acknowledged with 201. */
    def acked(b: Batch): Unit = synchronized { ackedN += b.tsMs.length; ackedBytes += b.rawBytes }
    /** The POST failed: forget its rows again. */
    def dropped(b: Batch): Unit = synchronized { ts.dropRightInPlace(b.tsMs.length); sentN = ts.length }

    def ackedRows: Int = ackedN
    def sentRows: Int = sentN

    /** Rows among the first `n` whose timestamp is in [lo, hi]. */
    def countIn(n: Int, range: Option[(Long, Long)]): Int = synchronized {
      range match {
        case None => n
        case Some((lo, hi)) => lowerBound(hi + 1, n) - lowerBound(lo, n)
      }
    }

    /** First index below `n` whose timestamp is at least `v`. */
    private def lowerBound(v: Long, n: Int): Int = {
      var a = 0; var b = n
      while (a < b) { val m = (a + b) >>> 1; if (ts(m) < v) a = m + 1 else b = m }
      a
    }

    /** A seeded GET range over the acknowledged rows: none (whole
      * session) one time in ten, otherwise a window covering a
      * log-uniform share of the rows, from 0.5% to all of them. */
    def range(r: SplittableRandom): Option[(Long, Long)] = synchronized {
      val n = ackedN
      if (n == 0 || r.nextInt(10) == 0) None
      else {
        val k = math.max(1, (n * logUniform(r, 0.005, 1.0)).toInt)
        val start = r.nextInt(n - k + 1)
        Some((ts(start), ts(start + k - 1)))
      }
    }
  }

  /** Rows per batch: log-uniform from about 10 to 1,000. */
  def batchRows(r: SplittableRandom): Int = logUniform(r, 10, 1000).toInt

  def rangeQuery(range: Option[(Long, Long)]): String = range match {
    case None => ""
    case Some((lo, hi)) =>
      s"?start_ts=${java.time.Instant.ofEpochMilli(lo)}&end_ts=${java.time.Instant.ofEpochMilli(hi)}"
  }
}
