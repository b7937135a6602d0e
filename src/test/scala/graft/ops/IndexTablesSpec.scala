package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The persisted-index story, executable: building the bucketed index
  * tables and plan-proving that the pair-generation self-joins over
  * them run WITHOUT a runtime Exchange (the shuffle was paid once, at
  * index-build time) — and that the indexed consumers return exactly
  * the same rows as their in-plan twins. Broadcast is disabled for the
  * plan assertions: at 100 TB neither side of these joins broadcasts,
  * so the exchange-free sort-merge shape is the one that matters. */
class IndexTablesSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def hasTestData = new java.io.File(s"$sf/documents.parquet").isFile

  private def withNoBroadcast[A](body: => A): A = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("chunk-index self-join plans exchange-free on both sides") {
    assume(hasTestData)
    val idx = spark.table(IndexTables.ensureChunkIndex(spark, sf, 4))
    withNoBroadcast {
      val joined = idx.as("a").join(idx.as("b"),
        col("a.j") === col("b.j") && col("a.ck") === col("b.ck") &&
        col("a.doc_id") < col("b.doc_id"))
      joined.collect() // finalize the adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"index self-join must not shuffle the index:\n$plan")
    }
  }

  test("chunk-index sortBy metadata elides the per-query Sort (legacy sorted-scan flag)") {
    assume(hasTestData)
    // The index writes one file per bucket, sorted on the join keys.
    // Spark ≥3.1 only exposes that order to the planner behind the
    // legacy flag (multi-file buckets can't guarantee it; ours are
    // single-file by construction). The default plan above still pays a
    // bucket-LOCAL in-memory sort — never a shuffle; this shows the
    // sort itself is also already paid at write time.
    val idx = spark.table(IndexTables.ensureChunkIndex(spark, sf, 4))
    val key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try withNoBroadcast {
      val joined = idx.as("a").join(idx.as("b"),
        col("a.j") === col("b.j") && col("a.ck") === col("b.ck") &&
        col("a.doc_id") < col("b.doc_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
      assert(!plan.contains("Sort "),
        s"write-time sortBy must satisfy the SMJ ordering:\n$plan")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("shingle-index self-join plans exchange-free on both sides") {
    assume(hasTestData)
    val idx = spark.table(IndexTables.ensureShingleIndex(spark, sf))
    withNoBroadcast {
      val joined = idx.as("a").join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"index self-join must not shuffle the index:\n$plan")
    }
  }

  test("indexed hamming near-dup returns exactly the in-plan twin's rows") {
    assume(hasTestData)
    val viaIndex = graft.SparkEntry.queries("dedup_hamming_indexed")(spark, sf).collect().map(_.toSeq)
    val inPlan = graft.SparkEntry.queries("dedup_hamming")(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty, "vacuous: no hamming near-dups at test scale")
    assert(viaIndex.toSeq === inPlan.toSeq)
  }

  test("indexed ngram jaccard returns exactly the in-plan twin's rows") {
    assume(hasTestData)
    val viaIndex = Dedup.ngramJaccardIndexed(spark, sf).collect().map(_.toSeq)
    val inPlan = Dedup.ngramJaccard(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty, "vacuous: no ngram near-dups at test scale")
    assert(viaIndex.toSeq === inPlan.toSeq)
  }

  test("IVF indexed search PRUNES the partitioned table to exactly the probed lists") {
    assume(hasTestData)
    IndexTables.ensureIvfIndex(spark, sf)
    // 2 queries × nprobe 2 → at most 4 of the 8 lists probed: pruning
    // is observable, not vacuous (8 queries can legitimately touch all
    // 8 lists at this tiny scale)
    val nQueries = 2
    val expected = Similarity.probedLists(spark, sf, nQueries, nprobe = 2)
    assert(expected.size < Similarity.IvfNList,
      s"probe set covers every list (${expected.size}) — pruning unobservable")
    val df = Similarity.ivfTopKIndexed(spark, sf, nQueries = nQueries)
    df.collect()
    // descend through AQE stages and subqueries — the scan lives inside
    // a materialized QueryStage after execution
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case _ => Seq.empty
      }
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      }
      here ++ (p.children ++ nested ++ p.subqueries).flatMap(allScans)
    }
    val plan = df.queryExecution.executedPlan
    val scans = allScans(plan)
      .filter(_.tableIdentifier.exists(_.table.startsWith("idx_ivf_seed_")))
    assert(scans.nonEmpty, s"no FileSourceScan of the ivf table in:\n$plan")
    // the probe predicate must reach the scan as a PARTITION filter
    // (the driver-side probe selection becomes a literal IN on
    // list_id), and the partitions-read metric must equal the
    // probed-list count — the entire point of PARTITIONED BY list_id
    val scan = scans.head
    assert(scan.partitionFilters.exists(f =>
        f.toString.contains("list_id") && f.toString.contains("IN")),
      s"no probe-list IN filter on the ivf scan; partitionFilters=${scan.partitionFilters}")
    val partitionsRead = scan.metrics("numPartitions").value
    assert(partitionsRead == expected.size.toLong,
      s"scanned $partitionsRead partitions, expected ${expected.size} (lists $expected)")
  }

  test("IVF index is partitioned by list_id and the indexed search matches the in-plan twin") {
    assume(hasTestData)
    val name = IndexTables.ensureIvfIndex(spark, sf)
    // layout: one partition directory per inverted list
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(warehouse, name))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("list_id="))
    assert(dirs.length == Similarity.IvfNList,
      s"expected ${Similarity.IvfNList} list partitions, got ${dirs.toSeq}")
    // every vector assigned exactly once (the table IS the inverted index)
    assert(spark.table(name).count() ==
      graft.ops.Tables.embeddings(spark, sf).count())
    val viaIndex = Similarity.ivfTopKIndexed(spark, sf).collect().map(_.toSeq)
    val inPlan = Similarity.ivfTopK(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty)
    assert(viaIndex.toSeq === inPlan.toSeq)
    // the indexed consumer's plan reads the persisted table, not a
    // recomputed assignment
    val plan = Similarity.ivfTopKIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains(name), s"expected a scan of $name in:\n$plan")
  }

  test("minhash band index: exchange-free self-join, twin identity, incremental append") {
    assume(hasTestData)
    val name = IndexTables.ensureMinhashIndex(spark, sf)
    val idx = spark.table(name)
    withNoBroadcast {
      val joined = idx.as("a").join(idx.as("b"),
        col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"band-index self-join must not shuffle the index:\n$plan")
    }
    val viaIndex = Dedup.minhashLshIndexed(spark, sf).collect().map(_.toSeq)
    val inPlan = Dedup.minhashLsh(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty, "vacuous: no minhash near-dups at test scale")
    assert(viaIndex.toSeq === inPlan.toSeq)
  }

  test("IVF-PQ search PRUNES the code table to exactly the probed lists") {
    assume(hasTestData)
    IndexTables.ensurePqIndex(spark, sf)
    // 2 queries × nprobe 2 → at most 4 of the 8 lists probed (the IVF
    // pruning test's rationale: pruning must be observable)
    val nQueries = 2
    val expected = Similarity.probedLists(spark, sf, nQueries, nprobe = 2)
    assert(expected.size < Similarity.IvfNList,
      s"probe set covers every list (${expected.size}) — pruning unobservable")
    val df = Similarity.ivfPqTopK(spark, sf, nQueries = nQueries)
    df.collect()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case _ => Seq.empty
      }
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      }
      here ++ (p.children ++ nested ++ p.subqueries).flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.tableIdentifier.exists(_.table.startsWith("idx_pq_codes_")))
    assert(scans.nonEmpty, "no FileSourceScan of the PQ code table in the plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(f =>
        f.toString.contains("list_id") && f.toString.contains("IN")),
      s"no probe-list IN filter on the code scan; partitionFilters=${scan.partitionFilters}")
    val partitionsRead = scan.metrics("numPartitions").value
    assert(partitionsRead == expected.size.toLong,
      s"scanned $partitionsRead partitions, expected ${expected.size} (lists $expected)")
  }

  test("index builds are idempotent per catalog (second ensure is a no-op)") {
    assume(hasTestData)
    val t1 = IndexTables.ensureChunkIndex(spark, sf, 4)
    val countBefore = spark.table(t1).count()
    val t2 = IndexTables.ensureChunkIndex(spark, sf, 4)
    assert(t1 === t2)
    assert(spark.table(t2).count() === countBefore)
  }

  test("persisted media pHash index: identical pair set to the in-plan twin, Exchange-free self-join") {
    assume(hasTestData)
    val viaIndex = graft.SparkEntry.queries("mm_phash_indexed")(spark, sf).collect().map(_.toSeq)
    val inPlan = graft.SparkEntry.queries("mm_phash_neardup")(spark, sf).collect().map(_.toSeq)
    assert(viaIndex.nonEmpty, "vacuous: no media near-dups at test scale")
    assert(viaIndex.toSeq === inPlan.toSeq)
    // the decode-once table joins bucket-locally like every chunk index
    val idx = spark.table(IndexTables.ensurePhashIndex(spark, sf, 4))
    withNoBroadcast {
      val joined = idx.as("a").join(idx.as("b"),
        col("a.j") === col("b.j") && col("a.ck") === col("b.ck") &&
        col("a.doc_id") < col("b.doc_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"media index self-join must not shuffle the index:\n$plan")
    }
  }
}
