package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** ANN index rebuild-while-serving (round 10): retraining the coarse
  * quantizer + PQ codebook on the index's CURRENT vectors and swapping
  * the staged generation atomically under the maintenance lease. Every
  * test runs against a FIXTURE embeddings dir (its own dir tag →
  * its own tables, generation pointer and lease), so the declared
  * queries' gen-0 tables for the real testdata dirs are never touched.
  *
  * The drift fixture is the scenario the rebuild exists for: the base
  * corpus plus a crafted 8-blob cluster in a region the seed
  * quantizer/codebook (trained on base vectors 100..107) has no
  * resolution in — blob b lives in dims [8b, 8b+8), exactly PQ
  * subspace b, so a codebook with no codeword there scores every blob
  * member identically (ADC ties) and the shortlist is id-arbitrary.
  * After the retrain, farthest-point seeding gives the blobs their own
  * lists and codewords, and recall against the exact-cosine truth must
  * not get worse (and in this construction strictly improves). */
class AnnRebuildSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/embeddings.parquet").isFile

  /** base corpus (vec_id ≥ 8, keeping the 100..107 seed block) plus an
    * 8-blob drifted cluster; queries 0..7 sit one per blob. Blob
    * member ids interleave (10000 + 8j + b) so an id-tiebroken
    * shortlist can't accidentally favor one blob. */
  private def mkDriftFixture(blobSize: Int): String = {
    val dir = tempDir("annfix")
    def noise(salt: Long, d: Int, amp: Float): Float =
      (((salt * 37 + d * 11) % 13) - 6) * amp / 6f
    def blobVec(b: Int, salt: Long, amp: Float): Seq[Float] =
      (0 until 64).map { d =>
        val on = d >= 8 * b && d < 8 * (b + 1)
        (if (on) 0.8f else 0.0f) + noise(salt, d, amp)
      }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float], Int)]()
    (0 until 8).foreach { b => rows += ((b.toLong, blobVec(b, 1000 + b, 0.02f), 99)) }
    (0 until blobSize).foreach { j =>
      (0 until 8).foreach { b =>
        rows += ((10000L + j * 8 + b, blobVec(b, j * 8L + b, 0.08f), 99))
      }
    }
    val cluster = spark.createDataFrame(rows.toSeq).toDF("vec_id", "embedding", "label")
    Tables.embeddings(spark, sf).filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(cluster)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(dir: String): Double = {
    val truth = pairs(Similarity.bruteForceTopK(spark, dir, nQueries = 8, k = 5))
    val found = pairs(Similarity.ivfPqTopK(spark, dir,
      nQueries = 8, k = 5, nprobe = 2, shortlist = 20))
    (found & truth).size.toDouble / truth.size
  }

  test("rebuild retrains on a drifted corpus: recall vs exact truth does not drop (and improves here)") {
    assume(hasTestData)
    val fix = mkDriftFixture(blobSize = 15)
    val before = recallOf(fix)
    val swapped = IndexTables.rebuildAnnIndexes(spark, fix, "spec-retrain")
    assert(swapped.isDefined, "uncontended rebuild must complete")
    assert(IndexTables.annGeneration(spark, fix) == 1L)
    val after = recallOf(fix)
    assert(after >= before,
      s"retraining made recall WORSE: $before -> $after")
    assert(after > before,
      s"drift fixture not discriminating: recall $before -> $after — the " +
        "frozen codebook should have no resolution in the blob region")
    assert(after >= 0.8, s"retrained recall only $after")
  }

  test("a query built BEFORE the swap keeps serving its pinned generation; nothing disappears") {
    assume(hasTestData)
    val fix = mkDriftFixture(blobSize = 4)
    // gen 0 up, with an appended batch — the rows a rebuild must carry
    IndexTables.ensureIvfIndex(spark, fix)
    IndexTables.ensurePqIndex(spark, fix)
    val twin = Tables.embeddings(spark, fix)
      .filter(col("vec_id") === 0L).select(col("embedding")).head().getSeq[Float](0)
    val newId = 900000001L
    val newDf = spark.createDataFrame(Seq((newId, twin))).toDF("vec_id", "embedding")
    assert(IndexTables.appendToIvfIndex(spark, fix, newDf) == 1L)
    assert(IndexTables.appendToPqIndex(spark, fix, newDf) == 1L)
    val gen0Count = spark.table(IndexTables.currentIvfTable(spark, fix)).count()

    // the DataFrame is built (probes collected, table names resolved)
    // at gen 0, collected once for the reference rows
    val preSwapDf = Similarity.ivfPqTopK(spark, fix, nQueries = 4, k = 3)
    val preSwapRows = preSwapDf.collect().map(_.toSeq).toSeq

    val swapped = IndexTables.rebuildAnnIndexes(spark, fix, "spec-swap")
    assert(swapped.isDefined)
    val (gen, nVecs) = swapped.get
    assert(gen == 1L)
    // appended-but-unswapped vectors are re-encoded into the new
    // generation: nothing served disappears
    assert(nVecs == gen0Count,
      s"rebuild lost rows: gen0 had $gen0Count, gen1 has $nVecs")
    assert(spark.table(IndexTables.annIvfName(fix, 1L))
      .filter(col("n_id") === newId).count() == 1L,
      "the appended vector is missing from the rebuilt generation")

    // mid-query identity: the pre-swap plan still reads its pinned
    // gen-0 tables (they are not dropped by the swap) — same rows
    assert(preSwapDf.collect().map(_.toSeq).toSeq == preSwapRows,
      "a pre-swap query's served rows changed across the swap")

    // post-swap serving reads gen 1 and still surfaces the appendee:
    // the twin of query 0 must be its nearest neighbor
    val found = pairs(Similarity.ivfPqTopK(spark, fix, nQueries = 4, k = 3))
    assert(found.contains((0L, newId)),
      s"appended twin not served from the rebuilt generation: $found")
  }

  test("appends AFTER a swap land in (and serve from) the new generation") {
    assume(hasTestData)
    val fix = mkDriftFixture(blobSize = 4)
    assert(IndexTables.rebuildAnnIndexes(spark, fix, "spec-post").isDefined)
    val twin = Tables.embeddings(spark, fix)
      .filter(col("vec_id") === 1L).select(col("embedding")).head().getSeq[Float](0)
    val newId = 910000001L
    val newDf = spark.createDataFrame(Seq((newId, twin))).toDF("vec_id", "embedding")
    assert(IndexTables.appendToIvfIndex(spark, fix, newDf) == 1L)
    assert(IndexTables.appendToPqIndex(spark, fix, newDf) == 1L)
    // the rows landed in the gen-1 tables, encoded under the RETRAINED
    // quantizer/codebook, and the serving path finds the twin
    assert(spark.table(IndexTables.annIvfName(fix, 1L))
      .filter(col("n_id") === newId).count() == 1L)
    assert(spark.table(IndexTables.annPqName(fix, 1L))
      .filter(col("n_id") === newId).count() == Similarity.PqM.toLong)
    val found = pairs(Similarity.ivfPqTopK(spark, fix, nQueries = 4, k = 3))
    assert(found.contains((1L, newId)),
      s"post-swap append not served: $found")
  }

  test("a grown corpus's rebuild re-dimensions nlist (ceil sqrt N, capped) and serving stays row-correct") {
    assume(hasTestData)
    val fix = mkDriftFixture(blobSize = 15) // ~612 vectors: ceil(sqrt N) = 25 > 8
    val n = Similarity.vectors(spark, fix).count()
    val budget = Similarity.rebuildNList(n)
    assert(budget > Similarity.IvfNList, s"fixture too small to exercise the policy: n=$n")
    assert(IndexTables.rebuildAnnIndexes(spark, fix, "spec-nlist").isDefined)
    // the retrained generation carries MORE lists than the seed layout
    // (up to the budget — Lloyd drops empty lists), and the persisted
    // centroid table is the new quantizer
    val gen1Lists = spark.table(IndexTables.annIvfName(fix, 1L))
      .select(col("list_id")).distinct().count()
    assert(gen1Lists > Similarity.IvfNList && gen1Lists <= budget,
      s"rebuild did not re-dimension: $gen1Lists lists (seed=${Similarity.IvfNList}, budget=$budget)")
    assert(spark.table(IndexTables.annCentsName(fix, 1L)).count() == gen1Lists)
    // serving stays row-correct at the new layout: probing EVERY list
    // with index-side exact rerank reproduces the brute-force truth
    val truth = pairs(Similarity.bruteForceTopK(spark, fix, nQueries = 4, k = 3))
    val served = pairs(Similarity.ivfTopKIndexed(spark, fix,
      nQueries = 4, k = 3, nprobe = 100000))
    assert(served == truth,
      s"all-lists probe at the re-dimensioned layout diverged from exact truth")
    // the balance report prices the layout being SERVED: one row per
    // live list, load factors on the new nlist, all vectors accounted
    val stats = Similarity.ivfCellStats(spark, fix).collect()
    assert(stats.length == gen1Lists,
      s"ann_cell_stats still describes the seed layout: ${stats.length} rows")
    assert(stats.map(_.getLong(1)).sum == n)
  }

  test("a crashed rebuild (tables staged, pointer unflipped) leaves serving untouched; the rerun completes") {
    assume(hasTestData)
    val fix = mkDriftFixture(blobSize = 4)
    val before = Similarity.ivfPqTopK(spark, fix, nQueries = 4, k = 3)
      .collect().map(_.toSeq).toSeq
    // simulate the crash window: orphan junk at the next generation's
    // names, pointer still at 0 — serving must not see it
    spark.createDataFrame(Seq((1L, 1L))).toDF("n_id", "list_id").write
      .mode("overwrite").saveAsTable(IndexTables.annIvfName(fix, 1L))
    assert(IndexTables.annGeneration(spark, fix) == 0L)
    assert(Similarity.ivfPqTopK(spark, fix, nQueries = 4, k = 3)
      .collect().map(_.toSeq).toSeq == before,
      "an unflipped staged generation leaked into serving")
    // the rerun overwrites the orphan and completes the swap
    val swapped = IndexTables.rebuildAnnIndexes(spark, fix, "spec-crash")
    assert(swapped.isDefined && swapped.get._1 == 1L)
    assert(spark.table(IndexTables.annIvfName(fix, 1L)).count() == swapped.get._2)
  }

  test("the maintenance lease admits one rebuilder: a contended rebuild returns None") {
    assume(hasTestData)
    val fix = mkDriftFixture(blobSize = 4)
    IndexTables.ensureIvfIndex(spark, fix)
    IndexTables.ensurePqIndex(spark, fix)
    val other = IndexTables.compactionLease(spark, fix, "other-holder")
    val res = other.withLease {
      IndexTables.rebuildAnnIndexes(spark, fix, "contender")
    }
    assert(res.isDefined, "outer lease should acquire")
    assert(res.get.isEmpty, "a rebuild under a foreign live lease must decline")
    assert(IndexTables.annGeneration(spark, fix) == 0L)
  }
}
