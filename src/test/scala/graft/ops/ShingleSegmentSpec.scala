package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The segmented shingle index: uncapped shingles plus DF stats, with
  * the corpus-relative 20% DF cap applied at read time over the summed
  * stats. The contract proven here is ROW IDENTITY with the in-plan
  * n-gram pairs, and a cap decided at read time for every doc. */
class ShingleSegmentSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/documents.parquet").isFile

  private def dropSegmentTables(): Unit =
    Seq("idx_shingle_seg_", "idx_shingle_df_", "idx_shingle_meta_").foreach { p =>
      spark.sql(s"DROP TABLE IF EXISTS $p${IndexTables.dirTag(sf)}")
    }

  test("segments serve exactly the in-plan rows, and the read-time cap drops a hot shingle from every doc") {
    assume(hasTestData)
    dropSegmentTables() // a previous build would mask the fixture
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    IndexTables.ensureShingleSegmentsFrom(spark, sf, docs)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val segmented = pairs(Dedup.ngramJaccardSegmented(spark, sf))
    val inPlan = pairs(Dedup.ngramJaccard(spark, sf))
    assert(segmented == inPlan,
      s"segmented=${segmented.size} inPlan=${inPlan.size} " +
      s"diff=${(segmented diff inPlan) ++ (inPlan diff segmented)}")
    assert(inPlan.nonEmpty, "corpus produced no near-dup pairs — twin test is vacuous")

    // tiny synthetic corpus of 10 docs: "alpha beta gamma" in two docs
    // is at, not above, the greatest(2, 20% of 10) floor → SERVED;
    // "delta epsilon zeta" in eight docs is above it → capped for
    // EVERY doc that holds it
    dropSegmentTables()
    val sp = spark
    import sp.implicits._
    val small = ((1L to 2L).map(i => (i, s"alpha beta gamma one$i two$i")) ++
      (3L to 10L).map(i => (i, s"delta epsilon zeta three$i four$i"))).toDF("doc_id", "text")
    IndexTables.ensureShingleSegmentsFrom(spark, sf, small)
    def served(phrase: String): Long = {
      val sh = Dedup.shinglesOf(Seq((99L, phrase)).toDF("doc_id", "text"))
        .select(col("s")).head().getLong(0)
      IndexTables.mergedShingleView(spark, sf).filter(col("s") === sh).count()
    }
    assert(served("alpha beta gamma") == 2L, "a shingle at the floor must be served")
    assert(served("delta epsilon zeta") == 0L, "a shingle above the cap must vanish from every doc")
    dropSegmentTables() // leave no synthetic index under the real dir tag
  }
}
