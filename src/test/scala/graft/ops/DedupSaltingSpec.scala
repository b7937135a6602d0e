package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSuite

/** The skew guard of a salted [[Dedup.Blocking]] (the
  * `dedup_hamming_salted` layout) does two things, both pinned here:
  *
  *  1. IDENTITY — salted candidate generation emits exactly the pair
  *     set of the plain block join, on constructed hot-block skew and
  *     on random near-dup clusters (ScalaCheck), at thresholds low
  *     enough that essentially every block takes the salted path.
  *  2. BOUND — on a constructed hot block (one chunk key shared by the
  *     whole cluster: the boilerplate-template shape the blockStats
  *     forecast prices), the per-join-key work is bounded by the salt
  *     group size, not the block size: max salt-group membership stays
  *     a small multiple of `subBlock` where the unsalted block key owns
  *     all n·(n−1)/2 comparisons in one task.
  */
class DedupSaltingSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  private def sigDf(sigs: Seq[Long]) = spark.createDataFrame(
    sigs.zipWithIndex.map { case (h, i) => Row(i.toLong, h) }.asJava, schema)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("doc_a"), col("doc_b"), expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def candidates(sigs: Seq[Long], b: Dedup.Blocking) =
    pairSet(Dedup.candidates(Dedup.blockKeys(sigDf(sigs), b), b))

  private def salted(sigs: Seq[Long], n: Int, thr: Int, sub: Int) =
    candidates(sigs, Dedup.Blocking(n - 1, n, salt = Some(Dedup.Salt(thr, sub))))

  private def plain(sigs: Seq[Long], n: Int) =
    candidates(sigs, Dedup.Blocking(n - 1, n))

  // One massive hot block: 120 docs agreeing exactly on chunk 0 (low 16
  // bits) with random high bits, plus unrelated background docs — the
  // "shared template footer" signature-collapse shape.
  private val rnd = new scala.util.Random(7)
  private val hotCluster: Seq[Long] =
    Seq.fill(120)((rnd.nextLong() & ~0xFFFFL) | 0xBEEFL) ++
    Seq.fill(40)(rnd.nextLong())

  test("constructed hot block: salted pair set identical to plain block join") {
    val s = salted(hotCluster, n = 4, thr = 16, sub = 8)
    val p = plain(hotCluster, n = 4)
    assert(s == p, s"salted=${s.size} plain=${p.size} diff=${(s diff p) ++ (p diff s)}")
    assert(p.nonEmpty, "constructed skew produced no candidate pairs — test is vacuous")
  }

  test("constructed hot block: per-key work bounded by salt group, not block size") {
    val nChunks = 4
    val chunks = Dedup.blockKeys(sigDf(hotCluster), Dedup.Blocking(nChunks - 1, nChunks))
    val blockSizes = chunks.groupBy(col("j"), col("ck")).agg(count(lit(1)).as("n"))
    val maxBlock = blockSizes.agg(max(col("n"))).head().getLong(0)
    assert(maxBlock >= 120, s"hot block not constructed (max block $maxBlock)")
    // replay the guard's group assignment for the hot blocks and bound
    // the largest salt group: per-key join work is ≤ maxGroup² where the
    // unsalted key owns maxBlock·(maxBlock−1)/2 comparisons
    val sub = 8
    val maxGroup = chunks
      .join(blockSizes.filter(col("n") > 16), Seq("j", "ck"))
      .withColumn("gn", ceil(col("n").cast("double") / sub).cast("bigint"))
      .withColumn("g", pmod(xxhash64(col("doc_id")), col("gn")))
      .groupBy(col("j"), col("ck"), col("g")).agg(count(lit(1)).as("m"))
      .agg(max(col("m"))).head().getLong(0)
    assert(maxGroup <= 3L * sub,
      s"salt groups unbalanced: max group $maxGroup vs subBlock $sub")
    assert(maxGroup * maxGroup < maxBlock * (maxBlock - 1) / 2,
      s"salting did not reduce per-key work: $maxGroup² vs ${maxBlock}·(${maxBlock}−1)/2")
  }

  test("salted equals plain on random near-dup clusters (aggressive salting)") {
    val sigSets: Gen[Seq[Long]] = for {
      nBases <- Gen.chooseNum(1, 4)
      bases <- Gen.listOfN(nBases, Gen.long)
      members <- Gen.listOfN(24, for {
        b <- Gen.oneOf(bases)
        nFlips <- Gen.chooseNum(0, 5)
        flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, 63))
      } yield flips.foldLeft(b)((h, j) => h ^ (1L << j)))
    } yield members
    val prop = Prop.forAll(sigSets) { sigs =>
      // threshold 2 / subBlock 2: every non-trivial block salts, with
      // many single-member groups (the degenerate split) in the mix
      salted(sigs, n = 4, thr = 2, sub = 2) == plain(sigs, n = 4)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("declared query: salted twin matches dedup_hamming row-for-row on test data") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").isFile)
    val a = graft.SparkEntry.queries("dedup_hamming")(spark, dir).collect().toSeq
    val b = graft.SparkEntry.queries("dedup_hamming_salted")(spark, dir).collect().toSeq
    assert(a == b)
  }

  // ---- wide (pair-of-chunks) keys composed with the salt guard
  // (the 10⁹+-doc deployment shape) ----

  private def wideSalted(sigs: Seq[Long], maxDist: Int, n: Int, thr: Int, sub: Int) =
    Dedup.hammingPairsFrom(sigDf(sigs),
      Dedup.Blocking(maxDist, n, wide = true, salt = Some(Dedup.Salt(thr, sub))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def wide(sigs: Seq[Long], maxDist: Int, n: Int) =
    Dedup.hammingPairsFrom(sigDf(sigs), Dedup.Blocking(maxDist, n, wide = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("wide+salted: identical to plain wide blocking on the constructed hot block") {
    // the hot cluster shares chunk 0; under 5-chunk combo keys every
    // combo containing chunk 0 still matches across the cluster when
    // the OTHER chunk also agrees — aggressive thresholds salt them all
    val s = wideSalted(hotCluster, maxDist = 3, n = 5, thr = 4, sub = 2)
    val p = wide(hotCluster, maxDist = 3, n = 5)
    assert(s == p, s"salted=${s.size} plain=${p.size} diff=${(s diff p) ++ (p diff s)}")
  }

  test("wide+salted equals plain wide on random near-dup clusters (aggressive salting)") {
    val sigSets: Gen[Seq[Long]] = for {
      nBases <- Gen.chooseNum(1, 4)
      bases <- Gen.listOfN(nBases, Gen.long)
      members <- Gen.listOfN(24, for {
        b <- Gen.oneOf(bases)
        nFlips <- Gen.chooseNum(0, 5)
        flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, 63))
      } yield flips.foldLeft(b)((h, j) => h ^ (1L << j)))
    } yield members
    val prop = Prop.forAll(sigSets) { sigs =>
      wideSalted(sigs, maxDist = 3, n = 5, thr = 2, sub = 2) ==
        wide(sigs, maxDist = 3, n = 5)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("declared query: wide+salted twin matches dedup_hamming row-for-row on test data") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").isFile)
    val a = graft.SparkEntry.queries("dedup_hamming")(spark, dir).collect().toSeq
    val b = graft.SparkEntry.queries("dedup_hamming_wide_salted")(spark, dir).collect().toSeq
    assert(a == b)
  }
}
