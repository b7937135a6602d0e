package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The lexical (BM25) index's round-16 contracts, executable:
  *
  *  - the indexed probe reads the dl/df/corp STAT SIDE TABLES instead
  *    of re-aggregating the corpus-sized postings relation per query
  *    (round-15 verdict #1 — the one audited plan defect);
  *  - the postings family maintains INCREMENTALLY, mirroring the
  *    minhash band / IVF append story: new docs land in their term
  *    buckets and the stat deltas without a rebuild, and the hybrid
  *    retrieval's two legs therefore see the same corpus membership
  *    (round-15 ADVICE staleness);
  *  - purge (the takedown surface) removes docs from BOTH the postings
  *    rows and the stats, and the append→purge sequence stays
  *    zero-reach;
  *  - compaction collapses at-least-once replays and re-derives the
  *    stats from the postings ledger.
  */
class PostingsIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/documents.parquet").isFile

  /** A private corpus dir the append/purge cases may mutate: the
    * bottom slice of sf0.001's documents, with the held-out tail
    * available for appends (the declared-query tables on the real
    * test dirs stay untouched — the IVF/minhash isolation rule). */
  private def mkFixture(): (String, Long) = {
    val dir = tempDir("postings")
    val maxId = Tables.documents(spark, sf).agg(max(col("doc_id"))).head().getLong(0)
    val thr = 8L * maxId / 10L
    Tables.documents(spark, sf)
      .filter(col("doc_id") <= thr)
      .write.parquet(s"$dir/documents.parquet")
    (dir, thr)
  }

  test("indexed BM25 probe reads stat side tables — no corpus-sized aggregate over the postings relation") {
    assume(hasTestData)
    val t = IndexTables.postingsIndexTables(spark, sf)
    val df = TextAnalysis.bm25TopKIndexed(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    // the bare postings table feeds exactly one read — the candidate
    // join's full pass. The `doc_id < 8` query slice is materialized
    // once (it is a doc filter over the TERM-bucketed relation, i.e. a
    // full pass, with two consumers: the idf term set and the broadcast
    // probe), so it no longer appears as extra postings reads — where
    // before the stat tables the probe paid three additional FULL
    // passes (dl ×2 via corp, df) and before the slice checkpoint two
    // slice passes on top of the candidates pass
    val postingsReads = s"${t.postings}\\[".r.findAllIn(plan).length
    assert(postingsReads == 1,
      s"expected 1 postings read (the full candidates pass; the query slice is materialized), got $postingsReads:\n$plan")
    Seq(t.dl, t.df, t.corp).foreach { st =>
      assert(plan.contains(st), s"probe plan does not read stat table $st:\n$plan")
    }
    assert(df.collect().nonEmpty)
  }

  test("postings family maintains INCREMENTALLY: appended docs are findable, stats stay consistent, replays are no-ops") {
    assume(hasTestData)
    val (dir, thr) = mkFixture()
    val t = IndexTables.postingsIndexTables(spark, dir)
    val basePostings = spark.table(t.postings).count()
    assert(basePostings > 0)

    // the held-out tail arrives as a new batch: append to the index
    // AND to the corpus dir, so the in-plan form (which tokenizes the
    // dir) is the oracle for the appended table
    val tail = Tables.documents(spark, sf)
      .filter(col("doc_id") > thr).select(col("doc_id"), col("text"))
      .localCheckpoint()
    assert(tail.count() > 0, "vacuous: empty held-out tail")
    val appended = IndexTables.appendToPostingsIndex(spark, dir, tail)
    assert(appended > 0, "append wrote no postings rows")
    tail.write.mode("append").parquet(s"$dir/documents.parquet")

    // twin identity over the grown corpus: the indexed probe (postings
    // + stat deltas) must match the in-plan probe (fresh tokenize of
    // the full dir) row for row — membership AND scores, which proves
    // the df/corp deltas merged correctly, not just the postings rows
    val viaIndex = TextAnalysis.bm25TopKIndexed(spark, dir).collect().map(_.toSeq)
    val inPlan = TextAnalysis.bm25TopK(spark, dir).collect().map(_.toSeq)
    assert(viaIndex.toSeq == inPlan.toSeq,
      "indexed BM25 diverged from in-plan after an incremental append")
    // non-vacuity: at least one appended doc is actually served
    val servedAppended = TextAnalysis.bm25TopKIndexed(spark, dir)
      .filter(col("doc_id") > thr).count()
    assert(servedAppended > 0, "no appended doc reached any top-k — widen the tail")

    // replay safety: redelivering the same batch appends nothing
    assert(IndexTables.appendToPostingsIndex(spark, dir, tail) == 0L,
      "replayed batch re-appended postings rows")

    // bucket locality survives the append: the candidate equi-join on
    // term against a bucketed one-table side stays shuffle-free on the
    // index side is covered by the shared writeBucketed spec family;
    // here assert the stat invariants instead — corp totals equal the
    // dl table's totals equal the postings rollup
    val corp = spark.table(t.corp).agg(sum("n"), sum("tl")).head()
    val dlAgg = spark.table(t.dl).agg(count(lit(1)), sum("dl")).head()
    val pAgg = spark.table(t.postings)
      .groupBy(col("doc_id")).agg(sum("tf").as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(corp.getLong(0) == dlAgg.getLong(0) && corp.getLong(0) == pAgg.getLong(0),
      s"corpus doc count drifted: corp=${corp.getLong(0)} dl=${dlAgg.getLong(0)} postings=${pAgg.getLong(0)}")
    assert(corp.getLong(1) == dlAgg.getLong(1) && corp.getLong(1) == pAgg.getLong(1),
      s"corpus total length drifted: corp=${corp.getLong(1)} dl=${dlAgg.getLong(1)} postings=${pAgg.getLong(1)}")
  }

  test("append then purge stays zero-reach on the lexical surface, and stats forget the purged docs") {
    assume(hasTestData)
    val (dir, thr) = mkFixture()
    IndexTables.postingsIndexTables(spark, dir)
    val tail = Tables.documents(spark, sf)
      .filter(col("doc_id") > thr).select(col("doc_id"), col("text"))
      .localCheckpoint()
    assert(IndexTables.appendToPostingsIndex(spark, dir, tail) > 0)
    tail.write.mode("append").parquet(s"$dir/documents.parquet")

    // take down every appended doc plus a slice of the base — the
    // takedown audit's lexical invariant, after the index has lived
    // through an append (the round-16 verdict #4 'done' condition)
    val victims = Tables.documents(spark, dir)
      .filter(col("doc_id") > thr || col("doc_id") % 13 === 0)
      .select(col("doc_id"))
    val removed = IndexTables.deleteFromPostingsIndex(spark, dir, victims)
    assert(removed > 0)

    val t = IndexTables.postingsIndexTables(spark, dir)
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    // zero reach: no purged doc in the postings rows, the dl stats, or
    // any served top-k
    assert(spark.table(t.postings)
      .filter(col("doc_id").isin(victimSet.toSeq: _*)).count() == 0)
    assert(spark.table(t.dl)
      .filter(col("doc_id").isin(victimSet.toSeq: _*)).count() == 0)
    val served = TextAnalysis.bm25TopKIndexed(spark, dir).collect()
      .map(_.getLong(1)).toSet
    assert((served & victimSet).isEmpty,
      s"purged docs served lexically: ${(served & victimSet).take(5)}")
    // corpus stats re-derived from the kept rows (idf must not count
    // purged docs)
    val corpN = spark.table(t.corp).agg(sum("n")).head().getLong(0)
    val keptDocs = spark.table(t.postings).select("doc_id").distinct().count()
    assert(corpN == keptDocs, s"corp n=$corpN but postings hold $keptDocs docs")
  }

  test("postings compaction collapses replayed rows and re-derives stats from the ledger") {
    assume(hasTestData)
    val (dir, thr) = mkFixture()
    val t = IndexTables.postingsIndexTables(spark, dir)
    val clean = spark.table(t.postings).count()
    // simulate an at-least-once replay that slipped past the dl gate
    // (the documented crash window: postings rows written twice are
    // byte-identical, so distinct() is exact)
    val dup = spark.table(t.postings).filter(col("doc_id") % 5 === 0).localCheckpoint()
    dup.write.mode("append").insertInto(t.postings)
    spark.catalog.refreshTable(t.postings)
    assert(spark.table(t.postings).count() > clean)

    val Some((before, after)) =
      IndexTables.compactPostingsIndex(spark, dir, "spec-compactor")
    assert(before > clean && after == clean,
      s"compaction expected $clean rows, got $after (from $before)")
    // stats healed from the compacted ledger
    val corp = spark.table(t.corp).agg(sum("n"), sum("tl")).head()
    val pAgg = spark.table(t.postings)
      .groupBy(col("doc_id")).agg(sum("tf").as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(corp.getLong(0) == pAgg.getLong(0) && corp.getLong(1) == pAgg.getLong(1),
      "compaction left stats diverged from the postings ledger")
  }

  test("positional family: phrase twins stay identical across an incremental append, purge leaves no positional trace, compaction heals replay dups") {
    assume(hasTestData)
    val (dir, thr) = mkFixture()
    IndexTables.postingsIndexTables(spark, dir)
    // the optional fifth table joins the family BEFORE the append, so
    // the append path must carry positional rows too
    val posT = IndexTables.ensurePositionalPostings(spark, dir)
    val basePos = spark.table(posT).count()
    assert(basePos > 0)

    val tail = Tables.documents(spark, sf)
      .filter(col("doc_id") > thr).select(col("doc_id"), col("text"))
      .localCheckpoint()
    assert(IndexTables.appendToPostingsIndex(spark, dir, tail) > 0)
    tail.write.mode("append").parquet(s"$dir/documents.parquet")
    assert(spark.table(posT).count() > basePos,
      "append did not extend the positional table")

    // twin identity over the grown corpus: the indexed probe (with its
    // appended positional segment) must match a fresh in-plan tokenize
    val viaIndex = TextAnalysis.phraseTopKIndexed(spark, dir).collect().map(_.toSeq)
    val inPlan = TextAnalysis.phraseTopK(spark, dir).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty, "vacuous: no phrase matches on the fixture")
    assert(viaIndex.toSeq == inPlan.toSeq,
      "indexed phrase probe diverged from in-plan after an incremental append")

    // replay dup heal: a redelivered positional segment (the documented
    // pos-before-dl crash window) collapses under compaction
    val posClean = spark.table(posT).count()
    spark.table(posT).filter(col("doc_id") % 3 === 0).localCheckpoint()
      .write.mode("append").insertInto(posT)
    spark.catalog.refreshTable(posT)
    assert(spark.table(posT).count() > posClean)
    assert(IndexTables.compactPostingsIndex(spark, dir, "spec-pos-compactor").isDefined)
    assert(spark.table(posT).count() == posClean,
      "compaction did not collapse replayed positional rows")

    // purge: no positional trace of the victims, and the served phrase
    // surface cannot reach them
    val victims = Tables.documents(spark, dir)
      .filter(col("doc_id") % 11 === 0).select(col("doc_id"))
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    assert(IndexTables.deleteFromPostingsIndex(spark, dir, victims) > 0)
    assert(spark.table(posT)
      .filter(col("doc_id").isin(victimSet.toSeq: _*)).count() == 0,
      "purge left positional rows for removed docs")
    val served = TextAnalysis.phraseTopKIndexed(spark, dir).collect()
      .map(_.getLong(1)).toSet
    assert((served & victimSet).isEmpty,
      s"purged docs served positionally: ${(served & victimSet).take(5)}")
  }

  test("compactPostingsIndex under a foreign maintenance lease changes nothing; after release it collapses the replayed rows") {
    assume(hasTestData)
    val (dir, _) = mkFixture()
    val t = IndexTables.postingsIndexTables(spark, dir)
    val clean = spark.table(t.postings).count()
    // a replayed append that slipped past the dl gate (the crash
    // window the compaction exists to heal)
    val dup = spark.table(t.postings).filter(col("doc_id") % 7 === 0).localCheckpoint()
    assert(dup.count() > 0, "vacuous: empty replay slice")
    dup.write.mode("append").insertInto(t.postings)
    spark.catalog.refreshTable(t.postings)

    // phase 1 — a foreign holder owns the dir's maintenance lease (the
    // SAME lease ANN rebuilds and purges run under): the compaction
    // declines with None and changes nothing
    val foreign = IndexTables.compactionLease(spark, dir, "foreign-postings-holder")
    assert(foreign.tryAcquire(), "foreign holder could not take the lease")
    assert(IndexTables.compactPostingsIndex(spark, dir, "postings-direct").isEmpty,
      "a non-owner ran the compaction")
    assert(spark.table(t.postings).count() > clean,
      "a contended compaction attempt rewrote the table")
    // phase 2 — hand the lease back: the next compaction owns the
    // window, collapses the replayed rows, and heals the stats
    foreign.release()
    val ran = IndexTables.compactPostingsIndex(spark, dir, "postings-direct")
    assert(ran.isDefined, "compaction declined after release")
    assert(spark.table(t.postings).count() == clean,
      "compaction did not collapse the replayed rows")
    assert(ran.get._1 - ran.get._2 == dup.count(),
      s"collapsed-row accounting drifted: ${ran.get} vs ${dup.count()} replayed")
    val corp = spark.table(t.corp).agg(sum("n"), sum("tl")).head()
    val pAgg = spark.table(t.postings)
      .groupBy(col("doc_id")).agg(sum("tf").as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(corp.getLong(0) == pAgg.getLong(0) && corp.getLong(1) == pAgg.getLong(1),
      "compaction left stats diverged from the ledger")
  }
}
