package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSuite

/** Exactness proof for the pigeonhole blocking under
  * [[Dedup.hammingNearDup]]: with maxDist+1 chunks, EVERY pair within
  * Hamming distance maxDist must surface as a candidate (the pigeonhole
  * guarantee — maxDist differing bits can dirty at most maxDist of the
  * maxDist+1 chunks), so the verified output must equal brute force
  * exactly. Random signatures alone almost never collide at 64 bits, so
  * the generator plants near-duplicate clusters by flipping a few bits
  * of shared base signatures — the regime the blocking exists for. */
class DedupBlockingSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  private def viaBlocking(sigs: Seq[Long], maxDist: Int): Set[(Long, Long, Long)] = {
    val df = spark.createDataFrame(
      sigs.zipWithIndex.map { case (h, i) => Row(i.toLong, h) }.asJava, schema)
    Dedup.hammingPairsFrom(df, Dedup.Blocking(maxDist, maxDist + 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def bruteForce(sigs: Seq[Long], maxDist: Int): Set[(Long, Long, Long)] =
    (for {
      i <- sigs.indices; j <- sigs.indices if i < j
      d = java.lang.Long.bitCount(sigs(i) ^ sigs(j)).toLong if d <= maxDist
    } yield (i.toLong, j.toLong, d)).toSet

  // clusters of near-identical signatures: a base long with 0-5 bits
  // flipped per member (distances 0..10 between members — some inside
  // the maxDist=3 verify threshold, some outside it but still blocked)
  private val sigSets: Gen[Seq[Long]] = for {
    nBases <- Gen.chooseNum(2, 5)
    bases <- Gen.listOfN(nBases, Gen.long)
    members <- Gen.listOfN(18, for {
      b <- Gen.oneOf(bases)
      nFlips <- Gen.chooseNum(0, 5)
      flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, 63))
    } yield flips.foldLeft(b)((h, j) => h ^ (1L << j)))
  } yield members

  test("pigeonhole blocking + verify equals brute force on near-dup clusters") {
    val prop = Prop.forAll(sigSets) { sigs =>
      viaBlocking(sigs, maxDist = 3) == bruteForce(sigs, maxDist = 3)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("identical signatures at distance 0 are found (degenerate cluster)") {
    val sigs = Seq(42L, 42L, 42L, -1L)
    assert(viaBlocking(sigs, maxDist = 3) ==
      Set((0L, 1L, 0L), (0L, 2L, 0L), (1L, 2L, 0L)))
  }

  private def viaWide(sigs: Seq[Long], maxDist: Int): Set[(Long, Long, Long)] = {
    val df = spark.createDataFrame(
      sigs.zipWithIndex.map { case (h, i) => Row(i.toLong, h) }.asJava, schema)
    Dedup.hammingPairsFrom(df, Dedup.Blocking(maxDist, nChunks = 5, wide = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("pair-of-chunks (wide) blocking + verify equals brute force — pigeonhole holds for d <= nChunks-2") {
    val prop = Prop.forAll(sigSets) { sigs =>
      viaWide(sigs, maxDist = 3) == bruteForce(sigs, maxDist = 3)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
    // degenerate cluster and the adversarial boundary: EXACTLY 3 flipped
    // bits spread over 3 different chunks still leaves 2 clean chunks
    assert(viaWide(Seq(42L, 42L, -1L), 3) == Set((0L, 1L, 0L)))
    val base = 0x0123456789ABCDEFL
    val spread = base ^ (1L << 0) ^ (1L << 13) ^ (1L << 26) // chunks 0,1,2 dirty
    assert(viaWide(Seq(base, spread), 3) == Set((0L, 1L, 3L)))
  }

  test("exact-substring coverage measures the interval UNION of a shared run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr").toFile
    try {
      // a 12-token run shared verbatim by docs 1 and 2 → 5 overlapping
      // 8-token windows each, whose union must count 12 tokens, not 40
      val run = (1 to 12).map(i => s"r$i").mkString(" ")
      val s2 = spark
      import s2.implicits._
      Seq(
        (1L, s"a1 a2 a3 $run a4 a5", "en", "srcX", 0L),
        (2L, s"b1 b2 $run b3 b4 b5 b6", "en", "srcX", 0L),
        (3L, (1 to 10).map(i => s"c$i").mkString(" "), "en", "srcX", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val r = Dedup.exactSubstrCoverage(spark, tmp.toString).collect()
      assert(r.length === 1)
      val row = r.head
      assert(row.getLong(1) === 3L, s"n_docs: $row")
      assert(row.getLong(2) === 2L, s"n_docs_with_dup: $row")
      assert(row.getLong(3) === 24L, s"dup_tokens must be the union (12 per doc): $row")
      assert(row.getLong(4) === 45L, s"total_tokens: $row")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("substring coverage equals a brute-force interval-union reference") {
    // tiny alphabet → shared 8-token windows arise constantly, including
    // runs longer than L, runs at doc edges, and within-doc repetition
    val corpus: Gen[Seq[(Long, String)]] = for {
      nDocs <- Gen.chooseNum(3, 7)
      docs <- Gen.listOfN(nDocs,
        Gen.chooseNum(0, 26).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("x", "y")).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    def brute(docs: Seq[(Long, String)], L: Int): (Long, Long, Long, Long) = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
      val owners = toks.flatMap { case (id, w) =>
        w.sliding(L).filter(_.length == L).map(win => (win.mkString(" "), id))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
      val covered = toks.map { case (id, w) =>
        val marks = Array.fill(w.length)(false)
        w.sliding(L).zipWithIndex.foreach { case (win, i) =>
          if (win.length == L && owners(win.mkString(" ")) >= 2)
            (i until i + L).foreach(marks(_) = true)
        }
        id -> marks.count(identity).toLong
      }
      (toks.size.toLong, covered.count(_._2 > 0).toLong,
        covered.map(_._2).sum, toks.map(_._2.length.toLong).sum)
    }

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", org.apache.spark.sql.types.StringType),
      StructField("source", org.apache.spark.sql.types.StringType)))
    val prop = Prop.forAll(corpus) { docs =>
      val df = spark.createDataFrame(
        docs.map { case (id, t) => Row(id, t, "srcP") }.asJava, docSchema)
      val r = Dedup.substrCoverageOf(df, 8).collect()
      val got =
        if (r.isEmpty) (0L, 0L, 0L, 0L)
        else (r.head.getLong(1), r.head.getLong(2), r.head.getLong(3), r.head.getLong(4))
      got == brute(docs, 8)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("simhashOf (native graft_simhash) and simhashExpr (pure-SQL fold) agree") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = spark.createDataFrame(Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog"),
      Row(2L, "one"),
      Row(3L, "repeat repeat repeat distinct tokens skew the weights"),
      Row(4L, "the quick brown fox jumps over the lazy cat"),
      Row(5L, "a b a b a b a b c d e f g h i j k l m n o p")).asJava, docSchema)
    val viaAgg = Dedup.simhashOf(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProj = docs.select(col("doc_id"), Dedup.simhashExpr("text").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaProj)
    assert(viaAgg.values.toSet.size === 5, "distinct texts must hash apart")
  }

  test("threshold sweep: monotone in the threshold, consistent with the 0.5 gate, rates are fractions") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").isFile)
    val rows = Dedup.thresholdSweep(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "sweep found no admitted pairs at any threshold")
    // raising the threshold can only shed pairs and docs
    rows.sliding(2).foreach {
      case Array((t1, p1, d1, _), (t2, p2, d2, _)) =>
        assert(t1 < t2 && p1 >= p2 && d1 >= d2,
          s"sweep not monotone: ($t1,$p1,$d1) -> ($t2,$p2,$d2)")
      case _ => ()
    }
    // the 0.5 row IS the production gate: its pair count must equal
    // the declared near-dup pair relation's
    val gate = Dedup.ngramPairs(spark, sf).count()
    val at05 = rows.find(_._1 == 0.5).map(_._2).getOrElse(0L)
    assert(at05 == gate, s"0.5 sweep row $at05 != ngramPairs $gate")
    rows.foreach { case (_, p, d, rate) =>
      assert(d <= 2 * p, "more affected docs than pair endpoints")
      assert(rate > 0.0 && rate <= 1.0)
    }
  }
}
