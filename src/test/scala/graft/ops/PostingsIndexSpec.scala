package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The lexical (BM25) index's contracts, executable:
  *
  *  - the indexed probe reads the dl/df/corp STAT SIDE TABLES instead
  *    of re-aggregating the corpus-sized postings relation per query;
  *  - the family is built once from one postings table, so its stats
  *    describe exactly the served rows, the postings stay bucket-local
  *    for a term join, and the positional member serves the same
  *    phrase rows as the in-plan tokenize.
  */
class PostingsIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/documents.parquet").isFile

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

  test("the built postings family: stats equal the postings rollup, term joins stay bucket-local, phrase twins match") {
    assume(hasTestData)
    val t = IndexTables.postingsIndexTables(spark, sf)

    // stat invariants: corp totals equal the dl table's totals equal
    // the postings rollup, and df counts each term's posting rows
    val corp = spark.table(t.corp).agg(sum("n"), sum("tl")).head()
    val dlAgg = spark.table(t.dl).agg(count(lit(1)), sum("dl")).head()
    val pAgg = spark.table(t.postings)
      .groupBy(col("doc_id")).agg(sum("tf").as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(corp.getLong(0) > 0, "vacuous: empty postings family")
    assert(corp.getLong(0) == dlAgg.getLong(0) && corp.getLong(0) == pAgg.getLong(0),
      s"corpus doc count drifted: corp=${corp.getLong(0)} dl=${dlAgg.getLong(0)} postings=${pAgg.getLong(0)}")
    assert(corp.getLong(1) == dlAgg.getLong(1) && corp.getLong(1) == pAgg.getLong(1),
      s"corpus total length drifted: corp=${corp.getLong(1)} dl=${dlAgg.getLong(1)} postings=${pAgg.getLong(1)}")
    val dfDiff = spark.table(t.df)
      .join(spark.table(t.postings).groupBy(col("term")).agg(count(lit(1)).as("n")),
        Seq("term"), "full_outer")
      .filter(col("df").isNull || col("n").isNull || col("df") =!= col("n"))
      .count()
    assert(dfDiff == 0L, s"$dfDiff terms whose df disagrees with the postings rows")

    // bucket locality: a term self-join over the built table plans
    // with no Exchange on either side
    val broadcastAt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = spark.table(t.postings)
      val plan = p.as("a").join(p.as("b"), col("a.term") === col("b.term"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"postings lost bucket-join locality:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastAt)

    // the optional positional member serves the in-plan phrase rows
    IndexTables.ensurePositionalPostings(spark, sf)
    val viaIndex = TextAnalysis.phraseTopKIndexed(spark, sf).collect().map(_.toSeq)
    val inPlan = TextAnalysis.phraseTopK(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty, "vacuous: no phrase matches")
    assert(viaIndex.toSeq == inPlan.toSeq, "indexed phrase probe diverged from in-plan")
  }
}
