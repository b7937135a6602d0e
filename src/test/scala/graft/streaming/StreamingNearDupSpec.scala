package graft.streaming

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.SparkSuite
import graft.ops.Dedup

/** Streaming near-dup ADMISSION (SURVEY §2.8 superset): incoming docs
  * checked against a static reference corpus at ingest time via
  * [[Dedup.nearDupAgainst]]. The whole path — simhash projection,
  * pigeonhole chunk explosion, stream-static block join,
  * first-agreeing-chunk pair dedup — is stateless, so it runs in
  * append mode with NO state store: near-dup gating at micro-batch
  * cost, the streaming counterpart of the batch [[Dedup.hammingNearDup]]
  * (and the near-dup analogue of [[StreamingDedupSpec]]'s exact
  * watermark dedup). */
class StreamingNearDupSpec extends SparkSuite {

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  private def runAvailableNow(out: DataFrame)(sink: DataFrame => Unit): Unit = {
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("neardup-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
      .start()
    q.awaitTermination(120000)
    // the admission path must be stateless: no state-store operator
    // may appear in the executed streaming plan
    val states = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(states.isEmpty,
      s"near-dup admission must run without streaming state, got: ${states.mkString(",")}")
  }

  test("stream-static admission matches within maxDist, once per pair, statelessly") {
    val base = 0x0123456789abcdefL
    val corpus = {
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        java.util.Arrays.asList(Row(100L, base), Row(200L, 0x7777000011110000L)),
        sigSchema)
    }

    val in = tempDir("neardup-in")
    // 1: exact signature match (dist 0). 2: bits {0,1,2} flipped
    // (dist 3 = maxDist, all inside chunk 0 → agrees on chunks 1-3,
    // exercising multi-chunk collision dedup). 3: bits {0..3} flipped
    // (dist 4 → candidate via chunks 1-3 but rejected by the exact
    // verify). 4: far from everything. 5: corpus doc 200 with one bit
    // of chunk 3 flipped (dist 1).
    Files.write(Paths.get(in, "b1.json"), String.join("\n",
      s"""{"doc_id":1,"simhash":$base}""",
      s"""{"doc_id":2,"simhash":${base ^ 0x7L}}""",
      s"""{"doc_id":3,"simhash":${base ^ 0xfL}}""",
      s"""{"doc_id":4,"simhash":${0x5a5aa5a5deadbeefL}}""",
      s"""{"doc_id":5,"simhash":${0x7777000011110000L ^ (1L << 60)}}""").getBytes)

    val incoming = spark.readStream.schema(sigSchema).json(in)
    val got = mutable.Buffer.empty[(Long, Long, Long)]
    runAvailableNow(Dedup.nearDupAgainst(incoming, corpus)) { b =>
      b.collect().foreach(r =>
        got.synchronized { got += ((r.getLong(0), r.getLong(1), r.getLong(2))) })
    }
    assert(got.synchronized(got.sorted) ===
      mutable.Buffer((1L, 100L, 0L), (2L, 100L, 3L), (5L, 200L, 1L)))
  }

  test("streaming admission probes the PERSISTED chunk index (deployed ingest-gate shape)") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").isFile)
    // batch ground truth: probe three signatures against the standing
    // corpus through the in-plan path
    val corpusSigs = graft.ops.Tables.documents(spark, sf)
      .select(col("doc_id"), Dedup.simhashExpr("text").as("simhash"))
      .limit(50).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probeSig = corpusSigs.head._2 // an exact corpus signature → dist-0 hit(s)
    val in = tempDir("neardup-idx-in")
    Files.write(Paths.get(in, "b1.json"), String.join("\n",
      s"""{"doc_id":9001,"simhash":$probeSig}""",
      s"""{"doc_id":9002,"simhash":${probeSig ^ 0x3L}}""",
      s"""{"doc_id":9003,"simhash":${0x5a5aa5a5deadbeefL}}""").getBytes)

    val incoming = spark.readStream.schema(sigSchema).json(in)
    val got = mutable.Buffer.empty[(Long, Long, Long)]
    runAvailableNow(Dedup.nearDupAgainstIndex(incoming, spark, sf)) { b =>
      b.collect().foreach(r =>
        got.synchronized { got += ((r.getLong(0), r.getLong(1), r.getLong(2))) })
    }
    // identical to the batch stream-static path against the full corpus
    val batchIncoming = spark.read.schema(sigSchema).json(in)
    val corpus = graft.ops.Tables.documents(spark, sf)
      .select(col("doc_id"), Dedup.simhashExpr("text").as("simhash"))
    val expected = Dedup.nearDupAgainst(batchIncoming, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(expected.nonEmpty, "probe of a corpus signature must hit")
    assert(got.synchronized(got.sorted.toSeq) === expected)
  }

  test("simhashExpr computes the identical signature as a streaming projection") {
    val textSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val in = tempDir("neardup-text-in")
    Files.write(Paths.get(in, "b1.json"), String.join("\n",
      """{"doc_id":1,"text":"the quick brown fox jumps over the lazy dog"}""",
      """{"doc_id":2,"text":"one token"}""",
      """{"doc_id":3,"text":"repeat repeat repeat distinct"}""").getBytes)

    val streamed = mutable.Map.empty[Long, Long]
    val sigs = spark.readStream.schema(textSchema).json(in)
      .select(col("doc_id"), Dedup.simhashExpr("text").as("simhash"))
    runAvailableNow(sigs) { b =>
      b.collect().foreach(r =>
        streamed.synchronized { streamed(r.getLong(0)) = r.getLong(1) })
    }

    val batch = spark.read.schema(textSchema).json(in)
      .select(col("doc_id"), Dedup.simhashExpr("text").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.synchronized(streamed.toMap) === batch)
    assert(batch.values.toSet.size === 3, "distinct texts must hash apart")
  }
}
