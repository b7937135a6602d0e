package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The lexical (BM25) index's contracts, executable:
  *
  *  - the indexed probe reads the dl/df/corp STAT SIDE TABLES instead
  *    of re-aggregating the corpus-sized postings relation per query;
  *  - the postings family maintains INCREMENTALLY, mirroring the IVF
  *    append story: new docs land in their term buckets and the stat
  *    deltas without a rebuild, and the hybrid retrieval's two legs
  *    therefore see the same corpus membership;
  *  - a redelivered batch appends nothing, positional rows included.
  */
class PostingsIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/documents.parquet").isFile

  /** A private corpus dir the append cases may mutate: the
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

    // bucket locality survives the append: a term self-join over the
    // appended table still plans with no Exchange on either side
    val broadcastAt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = spark.table(t.postings)
      val plan = p.as("a").join(p.as("b"), col("a.term") === col("b.term"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"appended postings lost bucket-join locality:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastAt)

    // stat invariants: corp totals equal the dl table's totals equal
    // the postings rollup
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
    // the append half: appended docs join the serving rows and the
    // membership ledger, and corp counts exactly the served docs
    assume(hasTestData)
    val (dir, thr) = mkFixture()
    val t = IndexTables.postingsIndexTables(spark, dir)
    val tail = Tables.documents(spark, sf)
      .filter(col("doc_id") > thr).select(col("doc_id"), col("text"))
      .localCheckpoint()
    assert(IndexTables.appendToPostingsIndex(spark, dir, tail) > 0)

    val tailIds = tail.collect().map(_.getLong(0)).toSet
    def idsOf(table: String): Set[Long] = spark.table(table)
      .filter(col("doc_id") > thr).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val served = idsOf(t.postings)
    assert(served.nonEmpty && served.subsetOf(tailIds),
      s"appended postings rows name docs outside the batch: ${(served -- tailIds).take(5)}")
    assert(idsOf(t.dl) == served, "dl membership and postings rows disagree on the appended docs")
    val corpN = spark.table(t.corp).agg(sum("n")).head().getLong(0)
    val keptDocs = spark.table(t.postings).select("doc_id").distinct().count()
    assert(corpN == keptDocs, s"corp n=$corpN but postings hold $keptDocs docs")
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

    // a redelivered batch is stopped at the dl gate: no positional
    // rows are appended twice
    val posAfter = spark.table(posT).count()
    assert(IndexTables.appendToPostingsIndex(spark, dir, tail) == 0L)
    assert(spark.table(posT).count() == posAfter,
      "a replayed batch re-appended positional rows")
  }
}
