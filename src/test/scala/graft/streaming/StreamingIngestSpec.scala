package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkSuite
import graft.engine.Compactor
import graft.storage.ManifestLog

class StreamingIngestSpec extends SparkSuite {

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), String.join("\n", lines: _*).getBytes)

  test("streamed JSON files land in the store exactly once, invalid rows dead-letter") {
    val root = tempDir("stream")
    val in = tempDir("stream-in")
    val rejects = s"$root/rejects"
    val store = new ManifestLog(spark, s"$root/data")
    val compactor = new Compactor(store, thresholdBytes = Long.MaxValue)
    val ingest = new StreamingIngest(spark, store, compactor, in,
      s"$root/ckpt", rejects)

    writeLines(in, "batch1.json", Seq(
      """{"timestamp":"2025-03-01T10:00:00Z","level":"INFO","message":"a","container":"app","session":"s1"}""",
      """{"timestamp":"2025-03-01T10:01:00Z","level":"WARN","message":"b","container":"app","session":"s1"}""",
      """{"timestamp":"2025-03-01T10:02:00Z","level":"INFO","message":"c","container":"app","session":"s2"}""",
      """{"timestamp":"NOT-A-TIME","level":"INFO","message":"bad-ts","container":"app","session":"s1"}""",
      """{"timestamp":"2025-03-01T10:03:00Z","level":"INFO","message":"bad-id","container":"no/slash","session":"s1"}""",
      """{"timestamp":"2025-03-01T10:04:00Z","level":"INFO","message":"bad-nl","container":"app","session":"s1\n"}"""))

    val q = ingest.start()
    q.awaitTermination(120000)

    // 3 valid rows landed, partitioned by session
    assert(store.read("app", "s1").count() === 2)
    assert(store.read("app", "s2").count() === 1)
    // 3 invalid rows dead-lettered with their original payloads —
    // including the trailing-newline id that rlike's old ^...$ anchors
    // validated (regex FIND lets $ match before a final newline) and
    // the store's full-match require then rejected, crash-looping the
    // batch forever instead of dead-lettering (the round-7 poison-pill)
    val rejected = spark.read.json(rejects).collect()
    assert(rejected.length === 3)
    assert(rejected.map(_.getAs[String]("message")).sorted ===
      Array("bad-id", "bad-nl", "bad-ts"))

    // second drop: a new file is picked up from the checkpoint position
    writeLines(in, "batch2.json", Seq(
      """{"timestamp":"2025-03-01T11:00:00Z","level":"INFO","message":"d","container":"app","session":"s1"}"""))
    val q2 = ingest.start()
    q2.awaitTermination(120000)
    assert(store.read("app", "s1").count() === 3)
  }

  test("a many-tenant batch drains keys concurrently, not serially") {
    val root = tempDir("stream-par")
    val in = tempDir("stream-par-in")
    val store = new ManifestLog(spark, s"$root/data")
    val compactor = new Compactor(store, thresholdBytes = Long.MaxValue)
    val ingest = new StreamingIngest(spark, store, compactor, in,
      s"$root/ckpt", s"$root/rejects")
    // Overlap proof: every key's drain blocks until a SECOND drain has
    // started on another pool thread. A serialized per-key loop would
    // sit at count 1 forever and time out, failing the batch.
    val started = new java.util.concurrent.CountDownLatch(2)
    ingest.drainHook = (_, _) => {
      started.countDown()
      if (!started.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(
          "second concurrent key drain never started — appends are serialized")
    }
    writeLines(in, "many.json", (1 to 6).map(i =>
      s"""{"timestamp":"2025-03-01T10:0$i:00Z","level":"INFO","message":"m$i","container":"app","session":"s$i"}"""))
    val q = ingest.start()
    q.awaitTermination(120000)
    (1 to 6).foreach(i => assert(store.read("app", s"s$i").count() === 1))
  }

  test("appendIdempotent: replaying the same tag is a no-op (exactly-once on batch retry)") {
    import java.sql.Timestamp
    import java.time.Instant
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val store = new ManifestLog(spark, tempDir("idem"))
    val df = spark.createDataFrame(Seq(
      Row(Timestamp.from(Instant.parse("2025-03-01T10:00:00Z")), "INFO", "once")).asJava,
      graft.model.LogSchema.fileSchema)
    assert(store.appendIdempotent(df, "c", "s", "stream-42") > 0)
    assert(store.appendIdempotent(df, "c", "s", "stream-42") === -1L) // replay skipped
    assert(store.read("c", "s").count() === 1)
  }
}
