package graft.streaming

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.SparkSuite

/** Streaming ingest dedup (SURVEY §2.8 superset): at-least-once
  * upstreams (HTTP retries, replayed producers) deliver the same
  * logical event twice; `dropDuplicatesWithinWatermark` keeps one copy
  * per key while the watermark bounds the dedup state — the state store
  * holds only keys younger than the watermark, so state is O(window),
  * not O(stream). This is the streaming counterpart of the batch
  * exact-dedup operator and composes with the store's durable-tag
  * exactly-once append ([[graft.storage.ManifestLog.appendIdempotent]]):
  * tags dedup whole replayed BATCHES, this dedups individual re-sent
  * EVENTS. */
class StreamingDedupSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("event_key", StringType), StructField("ts", StringType),
    StructField("payload", StringType)))

  test("dropDuplicatesWithinWatermark keeps one copy of a re-sent event across micro-batches") {
    val in = tempDir("dedup-in")
    val ckpt = tempDir("dedup-ckpt")
    val out = mutable.Buffer.empty[(String, String)]

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(in)
        .withColumn("ts", to_timestamp(col("ts")))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_key")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach { r =>
            out.synchronized { out += ((r.getString(0), r.getString(2))) }
          }
          ()
        }
        .start()
      q.awaitTermination(120000)
    }

    def drop(name: String, lines: String*): Unit =
      Files.write(Paths.get(in, name), String.join("\n", lines: _*).getBytes)

    // batch 1: e1 plus an in-batch duplicate of e1; e2
    drop("b1.json",
      """{"event_key":"e1","ts":"2024-01-01T10:00:00Z","payload":"first"}""",
      """{"event_key":"e1","ts":"2024-01-01T10:00:05Z","payload":"retry-same-batch"}""",
      """{"event_key":"e2","ts":"2024-01-01T10:01:00Z","payload":"other"}""")
    runOnce()
    // batch 2 (new run, same checkpoint): e1 re-sent within the
    // watermark window again, plus a genuinely new e3
    drop("b2.json",
      """{"event_key":"e1","ts":"2024-01-01T10:02:00Z","payload":"retry-next-batch"}""",
      """{"event_key":"e3","ts":"2024-01-01T10:03:00Z","payload":"new"}""")
    runOnce()

    val byKey = out.synchronized(out.groupBy(_._1))
    assert(byKey("e1").map(_._2) === mutable.Buffer("first"),
      "duplicates of e1 must be dropped in-batch AND across batches (state persisted in checkpoint)")
    assert(byKey("e2").size === 1 && byKey("e3").size === 1)
    assert(out.size === 3)
  }
}
