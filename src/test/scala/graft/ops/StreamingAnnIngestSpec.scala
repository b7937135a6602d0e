package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.SparkSuite

/** STREAMING ingest into the SERVED ANN index — the deployment wiring
  * for embedding arrival: a stream of (vec_id, embedding) rows drained
  * per micro-batch into the PAIRED index appends
  * ([[IndexTables.appendToIvfIndex]] + [[IndexTables.appendToPqIndex]]
  * inside `foreachBatch`, the same pattern as the store's streaming
  * ingest). The appends encode under the CURRENT generation's frozen
  * quantizer/codebook and anti-join already-present ids
  * unconditionally, so the streaming path inherits exactly-once
  * semantics under foreachBatch's at-least-once redelivery contract
  * with no extra state: a replayed micro-batch is a no-op. Runs
  * against a FIXTURE embeddings dir (own tag → own tables). */
class StreamingAnnIngestSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/embeddings.parquet").isFile

  private val inSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def mkFixture(): String = {
    val dir = tempDir("annstream")
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def embOf(dir: String, id: Long): Seq[Float] =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === id).select(col("embedding")).head().getSeq[Float](0)

  private def jsonLine(id: Long, emb: Seq[Float]): String =
    s"""{"vec_id":$id,"embedding":[${emb.mkString(",")}]}"""

  private def drainInto(fix: String, in: String, ckpt: String): Unit = {
    val q = spark.readStream.schema(inSchema).json(in)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the paired append: codes alone would shortlist and then drop
        // at the rerank join — both tables move together, exactly as
        // the batch append contract states
        IndexTables.appendToIvfIndex(spark, fix, batch)
        IndexTables.appendToPqIndex(spark, fix, batch)
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive, "stream did not drain in time")
  }

  test("streamed embedding batches land in both index tables and serve end-to-end") {
    assume(hasTestData)
    val fix = mkFixture()
    IndexTables.ensureIvfIndex(spark, fix)
    IndexTables.ensurePqIndex(spark, fix)
    val ivfBefore = spark.table(IndexTables.currentIvfTable(spark, fix)).count()

    val twin0 = 940000001L
    val twin1 = 940000002L
    val in = tempDir("annstream-in")
    // two micro-batch files: twins of queries 0 and 1
    Files.write(Paths.get(in, "b1.json"), jsonLine(twin0, embOf(fix, 0L)).getBytes)
    Files.write(Paths.get(in, "b2.json"), jsonLine(twin1, embOf(fix, 1L)).getBytes)
    drainInto(fix, in, tempDir("annstream-ckpt"))

    assert(spark.table(IndexTables.currentIvfTable(spark, fix)).count() == ivfBefore + 2,
      "streamed vectors missing from the IVF table")
    assert(spark.table(IndexTables.currentPqTable(spark, fix))
      .filter(col("n_id").isin(twin0, twin1)).count() == 2L * Similarity.PqM,
      "streamed vectors missing code rows")
    // end-to-end serving: each query's streamed twin is its nearest
    // neighbor through the full IVF-PQ path
    val served = Similarity.ivfPqTopK(spark, fix, nQueries = 2, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.contains((0L, twin0)) && served.contains((1L, twin1)),
      s"streamed vectors not served: $served")
  }

  test("a redelivered micro-batch is a no-op: replaying the stream from a fresh checkpoint changes nothing") {
    assume(hasTestData)
    val fix = mkFixture()
    IndexTables.ensureIvfIndex(spark, fix)
    IndexTables.ensurePqIndex(spark, fix)
    val twin = 950000001L
    val in = tempDir("annstream-replay-in")
    Files.write(Paths.get(in, "b1.json"), jsonLine(twin, embOf(fix, 2L)).getBytes)
    drainInto(fix, in, tempDir("annstream-ckpt-a"))
    val ivfAfterFirst = spark.table(IndexTables.currentIvfTable(spark, fix)).count()
    val servedFirst = Similarity.ivfPqTopK(spark, fix, nQueries = 3, k = 3)
      .collect().map(_.toSeq).toSeq

    // a FRESH checkpoint forces the source to redeliver every file —
    // the harshest at-least-once replay; the appends' unconditional
    // anti-join must absorb it
    drainInto(fix, in, tempDir("annstream-ckpt-b"))
    assert(spark.table(IndexTables.currentIvfTable(spark, fix)).count() == ivfAfterFirst,
      "a redelivered batch duplicated IVF rows")
    assert(spark.table(IndexTables.currentPqTable(spark, fix))
      .filter(col("n_id") === twin).count() == Similarity.PqM.toLong,
      "a redelivered batch duplicated PQ code rows")
    assert(Similarity.ivfPqTopK(spark, fix, nQueries = 3, k = 3)
      .collect().map(_.toSeq).toSeq == servedFirst,
      "served rows changed under redelivery")
  }

  test("hybrid ingest: ANN + postings appends in ONE foreachBatch keep both legs' membership in sync, and the drift audit detects a one-sided append") {
    assume(hasTestData)
    assume(new java.io.File(s"$sf/documents.parquet").isFile)
    // a fixture carrying BOTH families' sources (the hybrid corpus:
    // aligned doc_id/vec_id spaces, as the test tables guarantee)
    val fix = tempDir("hybridstream")
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
      .write.parquet(s"$fix/embeddings.parquet")
    Tables.documents(spark, sf).write.parquet(s"$fix/documents.parquet")
    IndexTables.ensureIvfIndex(spark, fix)
    IndexTables.postingsIndexTables(spark, fix)
    // (vector-only ids, lexical-only ids): the IVF table's ids against
    // the postings dl membership
    def drift(): (Set[Long], Set[Long]) = {
      def ids(df: DataFrame): Set[Long] = df.distinct().collect().map(_.getLong(0)).toSet
      val vec = ids(spark.table(IndexTables.currentIvfTable(spark, fix)).select(col("n_id")))
      val lex = ids(spark.table(IndexTables.postingsIndexTables(spark, fix).dl).select(col("doc_id")))
      (vec -- lex, lex -- vec)
    }
    assert(drift() == ((Set.empty[Long], Set.empty[Long])),
      "aligned fixture must start drift-free")

    val hybridSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", org.apache.spark.sql.types.StringType),
      StructField("embedding", ArrayType(FloatType))))
    val nid = 960000001L
    val in = tempDir("hybridstream-in")
    Files.write(Paths.get(in, "b1.json"),
      s"""{"doc_id":$nid,"text":"freshly streamed hybrid document","embedding":[${embOf(fix, 0L).mkString(",")}]}""".getBytes)

    def drain(ckpt: String)(handle: DataFrame => Unit): Unit = {
      val q = spark.readStream.schema(hybridSchema).json(in)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) => handle(batch) }
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive, "stream did not drain in time")
    }

    // a MIS-WIRED deployment: only the vector family gets the append,
    // and the memberships must show it
    drain(tempDir("hybridstream-ckpt-a")) { batch =>
      IndexTables.appendToIvfIndex(spark, fix,
        batch.select(col("doc_id").as("vec_id"), col("embedding")))
      ()
    }
    assert(drift() == ((Set(nid), Set.empty[Long])),
      "a vector-only append must leave exactly the streamed id vector-only")

    // the CORRECT wiring: both families in one foreachBatch (fresh
    // checkpoint redelivers the file; the IVF append's anti-join
    // absorbs the replay, the postings append fills the lexical gap)
    drain(tempDir("hybridstream-ckpt-b")) { batch =>
      IndexTables.appendToIvfIndex(spark, fix,
        batch.select(col("doc_id").as("vec_id"), col("embedding")))
      IndexTables.appendToPostingsIndex(spark, fix,
        batch.select(col("doc_id"), col("text")))
      ()
    }
    assert(drift() == ((Set.empty[Long], Set.empty[Long])),
      "paired appends left the hybrid memberships diverged")
    // both families physically carry the streamed doc
    assert(spark.table(IndexTables.currentIvfTable(spark, fix))
      .filter(col("n_id") === nid).count() == 1L)
    val t = IndexTables.postingsIndexTables(spark, fix)
    assert(spark.table(t.dl).filter(col("doc_id") === nid).count() == 1L)
    assert(spark.table(t.postings).filter(col("doc_id") === nid).count() > 0L)
  }
}
