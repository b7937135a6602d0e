package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.storage.{LogTier, ManifestLog}

/** `LogTier` decorator handed to `LogServer` through its `makeTier`
  * factory. It times every call into the wrapped `ManifestLog` as a
  * `storage.*` span keyed by container/session, and counts plan reuse,
  * appends and compactions. Outside a traced window it records nothing; the
  * count of running appends and compactions is kept either way, because
  * the settle check needs it. */
final class TracedTier(spark: SparkSession, val inner: ManifestLog, tracer: Tracer)
    extends LogTier {
  private val writesInFlight = new AtomicInteger(0)
  @volatile private var lastWriteEndNs = System.nanoTime()
  private val lastPlan = new ConcurrentHashMap[(String, String), DataFrame]()

  /** Appends plus compactions running right now. */
  def writesRunning: Int = writesInFlight.get()
  /** nanoTime at which the last append or compaction finished. */
  def lastWriteEnd: Long = lastWriteEndNs

  private def writing[T](body: => T): T = {
    writesInFlight.incrementAndGet()
    try body finally { lastWriteEndNs = System.nanoTime(); writesInFlight.decrementAndGet() }
  }

  private def timed[T](name: String, c: String, s: String)(body: => T): T =
    if (!tracer.on) body
    else {
      val id = tracer.newId(); val t0 = tracer.nowNs
      SparkTrace.setParent(spark, id)
      try body
      finally {
        val t1 = tracer.nowNs
        tracer.add(Span(id, 0L, name, "storage", t0, t1, s"$c/$s"))
        tracer.sample(s"$name.ms", (t1 - t0) / 1e6)
      }
    }

  def read(container: String, session: String): DataFrame =
    timed("storage.read", container, session) {
      val df = inner.read(container, session)
      if (tracer.enabled) {
        val reused = lastPlan.put((container, session), df) eq df
        tracer.count("storage.read_calls")
        if (reused) tracer.count("storage.read_plan_reused")
      }
      df
    }

  def append(df: DataFrame, container: String, session: String): Long =
    writing(timed("storage.append", container, session) {
      val bytes = inner.append(df, container, session)
      tracer.count("storage.appends")
      tracer.addSum("storage.append_bytes", bytes.toDouble)
      bytes
    })

  def tierStats(container: String, session: String): (Long, Long, Long, Long) =
    timed("storage.tier_stats", container, session)(inner.tierStats(container, session))

  def sessions(): Seq[(String, String)] = inner.sessions()

  override def hotBytes(container: String, session: String): Long =
    inner.hotBytes(container, session)

  def compact(container: String, session: String): Long =
    writing(timed("storage.compact", container, session) {
      val coldBefore = if (tracer.on) inner.tierStats(container, session)._2 else 0L
      val retired = inner.compact(container, session)
      if (tracer.on) {
        tracer.count("storage.compactions")
        tracer.addSum("storage.compact_bytes_retired", retired.toDouble)
        tracer.addSum("storage.compact_bytes_written",
          math.max(0L, inner.tierStats(container, session)._2 - coldBefore).toDouble)
      }
      retired
    })

  override def withReadSnapshot[T](container: String, session: String)(f: => T): T =
    inner.withReadSnapshot(container, session)(f)

  override def statsAndRows(container: String, session: String): ((Long, Long, Long, Long), Long) =
    inner.statsAndRows(container, session)
}
