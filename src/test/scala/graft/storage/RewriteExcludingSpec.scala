package graft.storage

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model.LogSchema

/** Physical row-level purge (round-12 verdict #1): a deletion request
  * against the store's own rows must be honorable end-to-end — the
  * ANN tombstones mask the index and the curation takedown fixes the
  * derived artifacts, but only [[ManifestLog.rewriteExcluding]]
  * removes the stored rows themselves.
  * The contract proven here:
  *  - matching rows are gone from the CURRENT version immediately,
  *    survivors preserved exactly, untouched files never rewritten;
  *  - after the expire grace window closes, NO readable version (time
  *    travel included) and NO file on disk carries a purged row;
  *  - a crash before the swap leaves every row visible (no partial
  *    purge) and a re-run completes the deletion;
  *  - an idempotent-tagged batch whose file was purged still replays
  *    as a no-op — a redelivered ingest batch cannot resurrect rows;
  *  - appends landing mid-purge survive the swap;
  *  - a NULL predicate keeps the row (a takedown must name its rows).
  */
class RewriteExcludingSpec extends SparkSuite {

  private def batch(rows: (String, String, String)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (ts, lvl, msg) =>
        Row(Timestamp.from(Instant.parse(ts)), lvl, msg)
      }.asJava,
      LogSchema.fileSchema)

  private def msgs(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.getString(2)).sorted

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every parquet data file under the store root (both tiers). */
  private def dataFiles(root: String): Seq[Path] =
    Seq(s"$root/hot", s"$root/cold").flatMap(d =>
      StoreFiles.walkParquet(fsOf(root), new Path(d)).map(_.getPath))

  test("manifest: purge drops matching rows, keeps survivors exactly, and never rewrites an unaffected file") {
    val log = new ManifestLog(spark, tempDir("purge"))
    log.append(batch(("2024-01-01T10:00:00Z", "info", "clean1"),
                     ("2024-01-01T10:01:00Z", "info", "clean2")), "c", "s") // no match
    log.append(batch(("2024-01-01T10:02:00Z", "error", "bad1"),
                     ("2024-01-01T10:03:00Z", "info", "keep1")), "c", "s")  // mixed
    val before = log.resolve("c", "s")._2.filterNot(_.startsWith("#"))
    val untouched = before.head // the clean file committed first
    assert(log.rewriteExcluding("c", "s", col("level") === "error") == 1L)
    assert(msgs(log.read("c", "s")) == Seq("clean1", "clean2", "keep1"))
    val after = log.resolve("c", "s")._2.filterNot(_.startsWith("#"))
    assert(after.contains(untouched), "a file with no matching row was rewritten")
    assert(!after.contains(before(1)), "the affected file was not retired")
    // idempotent: nothing left to purge
    assert(log.rewriteExcluding("c", "s", col("level") === "error") == 0L)
  }

  test("manifest: after purge + expire, no readable version and no file on disk resurrects a purged row") {
    val root = tempDir("purge")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "error", "secret1"),
                     ("2024-01-01T10:01:00Z", "info", "keep1")), "c", "s")  // v1
    log.append(batch(("2024-01-01T10:02:00Z", "error", "secret2")), "c", "s") // v2
    log.compact("c", "s")                                                   // v3
    assert(log.rewriteExcluding("c", "s", col("level") === "error") == 2L)  // v4
    // inside the grace window the purged rows are still REACHABLE via
    // time travel — the documented snapshot-isolation trade
    assert(msgs(log.readAt("c", "s", 1L)) == Seq("keep1", "secret1"))
    // close the window: the deletion request is fulfilled here
    log.expire("c", "s", Instant.now().plusSeconds(60))
    val vs = log.versions("c", "s")
    assert(vs == Seq(4L), s"expected only the purged frontier to survive, got $vs")
    vs.foreach { v =>
      val lvls = log.readAt("c", "s", v).collect().map(_.getString(1)).toSet
      assert(!lvls.contains("error"), s"version $v still serves purged rows")
    }
    intercept[java.io.IOException](log.readAt("c", "s", 1L)) // expired, not servable
    // the disk itself: every surviving byte is survivor data
    val leftover = dataFiles(root)
    assert(leftover.nonEmpty)
    val onDisk = spark.read.schema(LogSchema.fileSchema)
      .parquet(leftover.map(_.toString): _*)
    assert(onDisk.filter(col("level") === "error").count() == 0L,
      "purged rows physically present after expire")
    assert(msgs(onDisk) == Seq("keep1"))
  }

  test("manifest: a crash before the swap leaves every row visible; a re-run completes the purge") {
    val root = tempDir("purge")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "error", "bad"),
                     ("2024-01-01T10:01:00Z", "info", "keep")), "c", "s")
    log.beforeSwap = () => throw new RuntimeException("crash before swap")
    intercept[RuntimeException](log.rewriteExcluding("c", "s", col("level") === "error"))
    // no partial purge observable: the current version serves all rows
    assert(msgs(log.read("c", "s")) == Seq("bad", "keep"))
    // the staged replacement is an unreferenced orphan expire collects
    log.beforeSwap = () => ()
    val orphans = dataFiles(root).filter(_.getName.startsWith("purge-"))
    assert(orphans.nonEmpty, "crashed purge left no staged orphan to collect")
    log.expire("c", "s", Instant.now().plusSeconds(60))
    assert(dataFiles(root).count(p => orphans.contains(p)) == 0,
      "expire did not collect the crashed purge's orphans")
    // the re-run completes the deletion
    assert(log.rewriteExcluding("c", "s", col("level") === "error") == 1L)
    assert(msgs(log.read("c", "s")) == Seq("keep"))
  }

  test("manifest: a replayed tagged batch cannot resurrect purged rows; mid-purge appends survive") {
    val log = new ManifestLog(spark, tempDir("purge"))
    val tagged = batch(("2024-01-01T10:00:00Z", "error", "bad"))
    assert(log.appendIdempotent(tagged, "c", "s", "batch-1") >= 0L)
    // an append lands between the purge's snapshot and its swap
    log.beforeSwap = () =>
      log.append(batch(("2024-01-01T10:05:00Z", "info", "late")), "c", "s")
    try assert(log.rewriteExcluding("c", "s", col("level") === "error") == 1L)
    finally log.beforeSwap = () => ()
    assert(msgs(log.read("c", "s")) == Seq("late"), "mid-purge append lost or purge incomplete")
    // the tag outlives its purged file as a tombstone: replay no-ops
    assert(log.appendIdempotent(tagged, "c", "s", "batch-1") == -1L)
    assert(msgs(log.read("c", "s")) == Seq("late"), "a replayed batch resurrected purged rows")
  }

  test("manifest: a NULL predicate keeps the row") {
    val log = new ManifestLog(spark, tempDir("purge"))
    log.append(batch(("2024-01-01T10:00:00Z", "info", "target"),
                     ("2024-01-01T10:01:00Z", "info", "other")), "c", "s")
    // when() with no otherwise: NULL for every non-target row
    val pred = when(col("message") === "target", lit(true))
    assert(log.rewriteExcluding("c", "s", pred) == 1L)
    assert(msgs(log.read("c", "s")) == Seq("other"))
  }
}
