package graft.storage

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSuite
import graft.model.LogSchema

/** What every caller of the log store relies on: read-your-writes with
  * the (container, session) columns recovered, compaction that keeps
  * the row multiset exactly once, and idempotent appends that stay
  * idempotent after compaction has moved the batch cold. Driven through
  * [[LogTier]] on [[ManifestLog]], the store every entry point builds;
  * the manifest mechanics themselves are pinned in [[ManifestLogSpec]]. */
class LogStoreSpec extends SparkSuite {

  private def batch(rows: (String, String, String)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (ts, lvl, msg) =>
        Row(Timestamp.from(Instant.parse(ts)), lvl, msg)
      }.asJava,
      LogSchema.fileSchema)

  private def contents(df: DataFrame): Seq[(String, String, String, String, String)] =
    df.collect().toSeq.map(r => (r.getTimestamp(0).toInstant.toString,
      r.getString(1), r.getString(2), r.getString(3), r.getString(4))).sorted

  test("append then read is read-your-writes with partition columns recovered") {
    val store: LogTier = new ManifestLog(spark, tempDir("store"))
    store.append(batch(("2024-01-01T10:00:00Z", "INFO", "a"),
                       ("2024-01-01T10:01:00Z", "ERROR", "b")), "app", "run1")
    assert(contents(store.read("app", "run1")) === Seq(
      ("2024-01-01T10:00:00Z", "INFO", "a", "app", "run1"),
      ("2024-01-01T10:01:00Z", "ERROR", "b", "app", "run1")))
  }

  test("compact preserves the row multiset exactly once — the reference's restart double-count bug must not exist") {
    val store: LogTier = new ManifestLog(spark, tempDir("store"))
    // Random-ish workload: interleave appends and compactions, including
    // duplicate rows, then verify the multiset is intact.
    val rnd = new scala.util.Random(42)
    var expected = Vector.empty[String]
    for (i <- 1 to 6) {
      val msgs = (1 to rnd.between(1, 4)).map(j => s"m$i-$j")
      expected ++= msgs
      store.append(batch(msgs.map(m => ("2024-01-01T10:00:00Z", "INFO", m)): _*), "c", "s")
      if (i % 2 == 0) store.compact("c", "s")
    }
    store.compact("c", "s")
    store.compact("c", "s") // second compact of drained hot tier is a no-op
    val got = store.read("c", "s").collect().map(_.getString(2)).sorted.toVector
    assert(got === expected.sorted)
    // everything must have moved cold
    val (coldFiles, _, hotFiles, _) = store.tierStats("c", "s")
    assert(hotFiles === 0 && coldFiles > 0)
  }

  test("idempotent replay is still a no-op AFTER compaction moved the batch cold (round-2 exactly-once hole)") {
    val store = new ManifestLog(spark, tempDir("idem"))
    val b = batch(("2024-01-01T10:00:00Z", "INFO", "once"))
    assert(store.appendIdempotent(b, "c", "s", "stream-7") > 0)
    store.compact("c", "s") // the tagged hot file is gone; its tag must survive
    assert(store.tierStats("c", "s")._3 === 0, "hot tier drained")
    assert(store.appendIdempotent(b, "c", "s", "stream-7") === -1L, "replay must skip")
    assert(store.read("c", "s").count() === 1)
  }
}
