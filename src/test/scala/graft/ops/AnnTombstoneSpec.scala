package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** ANN tombstone deletes — the third index mutation, completing the
  * lifecycle: append ([[IndexTables.appendToIvfIndex]]), rebuild
  * ([[IndexTables.rebuildAnnIndexes]]), delete
  * ([[IndexTables.deleteFromAnnIndex]]). Deletes land as per-generation
  * tombstone rows the serving paths anti-join away; the rebuild is the
  * purge (it retrains on the masked snapshot and the new generation
  * starts clean).
  * Every test runs against a FIXTURE embeddings dir (its own dir tag →
  * its own tables/generations), so the declared queries' shared tables
  * are never touched. */
class AnnTombstoneSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/embeddings.parquet").isFile

  private def mkFixture(): String = {
    val dir = tempDir("anntomb")
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def served(dir: String): (Set[(Long, Long)], Set[(Long, Long)]) =
    (pairs(Similarity.ivfTopKIndexed(spark, dir, nQueries = 4, k = 3)),
     pairs(Similarity.ivfPqTopK(spark, dir, nQueries = 4, k = 3)))

  test("a delete masks BOTH served paths immediately, idempotently, and top-k refills") {
    assume(hasTestData)
    val fix = mkFixture()
    val (ivfBefore, pqBefore) = served(fix)
    // victim: a vector both paths currently serve (query 0's IVF top-1)
    val victim = Similarity.ivfTopKIndexed(spark, fix, nQueries = 4, k = 3)
      .filter(col("query_id") === 0L).orderBy(col("rk"))
      .select(col("neighbor_id")).head().getLong(0)
    assert(ivfBefore.contains((0L, victim)))

    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(victim)) == 1L)
    // redelivered delete batch: a no-op, not a duplicate tombstone
    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(victim)) == 0L)

    val (ivfAfter, pqAfter) = served(fix)
    assert(!ivfAfter.exists(_._2 == victim), "deleted id still served by ivfTopKIndexed")
    assert(!pqAfter.exists(_._2 == victim), "deleted id still served by ivfPqTopK")
    // the mask removes ONE vector, not a list: every query still gets
    // a full top-k (the slot refills from the remaining candidates)
    assert(ivfAfter.groupBy(_._1).forall(_._2.size == 3),
      "top-k did not refill after the delete")
    // nothing unrelated changed: the only new pairs are refills, and
    // every surviving old pair is still there
    assert((ivfBefore -- ivfAfter).forall(_._2 == victim),
      "pairs not involving the victim disappeared")
  }

  test("an at-least-once REDELIVERED append cannot resurrect a deletion") {
    assume(hasTestData)
    val fix = mkFixture()
    IndexTables.ensureIvfIndex(spark, fix)
    IndexTables.ensurePqIndex(spark, fix)
    // ingest a vector, then delete it, then redeliver its append batch
    val emb = Tables.embeddings(spark, fix)
      .filter(col("vec_id") === 0L).select(col("embedding")).head().getSeq[Float](0)
    val newId = 930000001L
    val newDf = spark.createDataFrame(Seq((newId, emb))).toDF("vec_id", "embedding")
    assert(IndexTables.appendToIvfIndex(spark, fix, newDf) == 1L)
    assert(IndexTables.appendToPqIndex(spark, fix, newDf) == 1L)
    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(newId)) == 1L)
    // the redelivery: rows are still physically present, so the
    // append's presence guard skips them — and the mask keeps serving
    // without them
    assert(IndexTables.appendToIvfIndex(spark, fix, newDf) == 0L)
    assert(IndexTables.appendToPqIndex(spark, fix, newDf) == 0L)
    val (ivf, pq) = served(fix)
    assert(!ivf.exists(_._2 == newId) && !pq.exists(_._2 == newId),
      "a redelivered append resurrected a deleted vector")
  }

  test("rebuild is the purge: the new generation is tombstone-free and deliberate re-admission works") {
    assume(hasTestData)
    val fix = mkFixture()
    // victim = query 1's GLOBAL exact-cosine top-1: after re-admission
    // an all-lists probe must rank it first again — no dependence on
    // where the retrained quantizer re-assigned it
    val victim = Similarity.bruteForceTopK(spark, fix, nQueries = 2, k = 1)
      .filter(col("query_id") === 1L)
      .select(col("neighbor_id")).head().getLong(0)
    val gen0Count = spark.table(IndexTables.currentIvfTable(spark, fix)).count()
    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(victim)) == 1L)

    val swapped = IndexTables.rebuildAnnIndexes(spark, fix, "tomb-rebuild")
    assert(swapped.isDefined && swapped.get._1 == 1L)
    // the masked row was folded out, everything else carried
    assert(swapped.get._2 == gen0Count - 1L,
      s"rebuild carried ${swapped.get._2} of $gen0Count rows; expected the one tombstoned row purged")
    assert(spark.table(IndexTables.annIvfName(fix, 1L))
      .filter(col("n_id") === victim).count() == 0L,
      "tombstoned vector physically present in the rebuilt generation")
    // the clean generation has no tombstone set, and serving at gen 1
    // still excludes the victim (it is GONE, not masked)
    assert(!IndexTables.tombstoneExists(spark, fix, 1L))
    val (ivf, pq) = served(fix)
    assert(!ivf.exists(_._2 == victim) && !pq.exists(_._2 == victim))

    // deliberate re-admission is rebuild-then-append: the clean
    // generation accepts the vector as new, and it serves again
    val emb = Tables.embeddings(spark, fix)
      .filter(col("vec_id") === victim).select(col("embedding")).head().getSeq[Float](0)
    val back = spark.createDataFrame(Seq((victim, emb))).toDF("vec_id", "embedding")
    assert(IndexTables.appendToIvfIndex(spark, fix, back) == 1L)
    assert(IndexTables.appendToPqIndex(spark, fix, back) == 1L)
    assert(spark.table(IndexTables.annIvfName(fix, 1L))
      .filter(col("n_id") === victim).count() == 1L, "re-admitted row missing from gen 1")
    // probe every list (nprobe beyond any re-dimensioned nlist — the
    // rebuilt generation sizes ⌈√N⌉ lists since round 12): the
    // re-admitted vector is query 1's global top-1 again (the
    // tombstone is gone, not just out-probed)
    val ivf2 = pairs(Similarity.ivfTopKIndexed(spark, fix, nQueries = 2, k = 1, nprobe = 100000))
    assert(ivf2.contains((1L, victim)), s"re-admitted vector not served: $ivf2")
  }

  test("tombstones survive a session-catalog restart: durable state, never registration-keyed") {
    assume(hasTestData)
    val fix = mkFixture()
    val victim = Similarity.ivfTopKIndexed(spark, fix, nQueries = 4, k = 3)
      .filter(col("query_id") === 0L).orderBy(col("rk"))
      .select(col("neighbor_id")).head().getLong(0)
    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(victim)) == 1L)
    // the tombstone set is never catalog-registered: its existence is
    // durable directory presence, so there is no registration for a
    // JVM restart to lose (the advice-caught hazard: a registration-
    // keyed mask resurrects deletions; a registration-keyed create
    // destroys the prior set)
    assert(!spark.catalog.tableExists(IndexTables.annTombName(fix, 0L)))
    assert(IndexTables.tombstoneExists(spark, fix, 0L))
    // simulate the restart's worst case: the gen-0 index tables are
    // dropped from the catalog (registration lost) and re-ensured by
    // the fallback path — the durable tombstones must still mask
    Seq(IndexTables.annIvfName(fix, 0L), IndexTables.annPqName(fix, 0L))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val (ivf, pq) = served(fix) // re-ensures gen 0 from the fixture dir
    assert(!ivf.exists(_._2 == victim) && !pq.exists(_._2 == victim),
      "a catalog restart resurrected a deleted vector")
    // a post-restart delete APPENDS into the durable set — the first
    // victim must stay deleted alongside the new one
    val second = Similarity.ivfTopKIndexed(spark, fix, nQueries = 4, k = 3)
      .filter(col("query_id") === 1L).orderBy(col("rk"))
      .select(col("neighbor_id")).head().getLong(0)
    assert(second != victim)
    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(second)) == 1L)
    assert(IndexTables.deleteFromAnnIndex(spark, fix, Seq(victim)) == 0L,
      "a post-restart delete destroyed the prior tombstone set")
    val (ivf2, pq2) = served(fix)
    assert(!ivf2.exists(p => p._2 == victim || p._2 == second) &&
           !pq2.exists(p => p._2 == victim || p._2 == second))
  }

  test("oracle twin parity: ivfTopKDeleted rows equal the served path after the same deletes") {
    assume(hasTestData)
    val fix = mkFixture()
    // tombstone exactly the twin's declared set (vec_id ≡ 0 mod 7)
    val delIds = Similarity.vectors(spark, fix)
      .filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(IndexTables.deleteFromAnnIndex(spark, fix, delIds) == delIds.size.toLong)
    val twin = Similarity.ivfTopKDeleted(spark, fix, nQueries = 8, k = 5)
      .collect().map(_.toSeq).toSet
    val servedRows = Similarity.ivfTopKIndexed(spark, fix, nQueries = 8, k = 5)
      .collect().map(_.toSeq).toSet
    assert(twin == servedRows,
      "in-plan tombstone twin diverged from the persisted masked serving path")
  }

  test("prefix oracle twin parity: prefixTopKDeleted rows equal the served prefix path after the same deletes") {
    assume(hasTestData)
    val fix = mkFixture()
    // baseline BEFORE the delete (round-14 advice: the old
    // "no served neighbor is mod-7" check was implied by parity and
    // passed vacuously if no mod-7 vector ever made a top-k) — the
    // non-vacuity proof is that the delete actually CHANGED some
    // query's served result vs this captured set
    val before = Similarity.prefixTopK(spark, fix)
      .collect().map(_.toSeq).toSet
    assert(before.exists(r => r(1).asInstanceOf[Long] % 7 == 0),
      "fixture too small to exercise the delete: no mod-7 neighbor in any pre-delete top-k")
    val delIds = Similarity.vectors(spark, fix)
      .filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    assert(IndexTables.deleteFromAnnIndex(spark, fix, delIds) > 0L)
    val twin = Similarity.prefixTopKDeleted(spark, fix)
      .collect().map(_.toSeq).toSet
    val servedRows = Similarity.prefixTopK(spark, fix)
      .collect().map(_.toSeq).toSet
    assert(twin == servedRows,
      "in-plan prefix tombstone twin diverged from the masked served prefix path")
    assert(twin != before, "delete did not change any served prefix result")
    assert(twin.forall(r => r(1).asInstanceOf[Long] % 7 != 0),
      "twin served a deleted neighbor")
  }

  test("DataFrame-set delete (10% of corpus, no driver collect) masks every served path, prefix included") {
    assume(hasTestData)
    val fix = mkFixture()
    // corpus-scale predicate set stays a DataFrame end to end
    val delSet = Similarity.vectors(spark, fix)
      .filter(col("vec_id") % 10 === 0).select(col("vec_id"))
    val expected = delSet.count()
    assert(expected > 0)
    assert(IndexTables.deleteFromAnnIndex(spark, fix, delSet) == expected)
    // redelivered relation: idempotent no-op, same as the Seq overload
    assert(IndexTables.deleteFromAnnIndex(spark, fix, delSet) == 0L)
    val all = Seq(
      "ivf"        -> Similarity.ivfTopKIndexed(spark, fix, nQueries = 4, k = 3),
      "pq"         -> Similarity.ivfPqTopK(spark, fix, nQueries = 4, k = 3),
      "prefix"     -> Similarity.prefixTopK(spark, fix, nQueries = 4, k = 3),
      "prefix_idx" -> Similarity.prefixTopKIndexed(spark, fix, nQueries = 4, k = 3),
      "prefix_ivf" -> Similarity.prefixIvfTopK(spark, fix, nQueries = 4, k = 3),
      "sq8"        -> Similarity.sq8TopK(spark, fix, nQueries = 4, k = 3),
      // the in-plan serving family (round-14: candidate-stage masks)
      "ivf_inplan" -> Similarity.ivfTopK(spark, fix, nQueries = 4, k = 3),
      "ivf_refined" -> Similarity.ivfRefinedTopK(spark, fix, nQueries = 4, k = 3),
      "lsh"        -> Similarity.lshTopK(spark, fix, nQueries = 4, k = 3),
      "lsh_mp"     -> Similarity.lshMultiProbeTopK(spark, fix, nQueries = 4, k = 3),
      "maxsim"     -> Similarity.maxSimTopK(spark, fix, nQueries = 4, k = 3),
      "pq_inplan"  -> Similarity.pqTopK(spark, fix, nQueries = 4, k = 3),
      "filtered"   -> Similarity.filteredTopK(spark, fix, nQueries = 4, k = 3))
    all.foreach { case (name, df) =>
      assert(df.filter(col("neighbor_id") % 10 === 0).count() == 0L,
        s"deleted ids still served by the $name path")
      assert(df.count() > 0L, s"the $name path went empty after the delete")
    }
  }
}
