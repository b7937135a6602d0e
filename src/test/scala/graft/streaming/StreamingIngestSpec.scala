package graft.streaming

import graft.SparkSuite
import graft.storage.ManifestLog

class StreamingIngestSpec extends SparkSuite {

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
