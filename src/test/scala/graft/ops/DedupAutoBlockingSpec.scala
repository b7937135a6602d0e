package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.SparkSuite

/** Forecast-driven blocking selection ([[Dedup.autoBlockingChoice]]):
  * the metadata-priced block stats must steer each corpus
  * shape to the layout a deployment would hand-pick for it —
  *
  *  - SIGNATURE-COLLAPSE skew (identical signatures: the boilerplate-
  *    template shape) → the salted guard composes, because the hot
  *    block dominates every layout and only salting bounds per-task
  *    work;
  *  - UNIFORM corpus at birthday-collision scale → the wide
  *    (pair-of-chunks) layout, whose 2²⁶ key space suppresses the
  *    chance agreements that dominate single-chunk blocking there;
  *
  * and whatever it picks, the emitted pair set is IDENTICAL to the
  * plain dedup_hamming rows (which is why dedup_hamming_auto shares
  * dedup_hamming's oracle text via the twin-alias map).
  */
class DedupAutoBlockingSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  private def sigDf(sigs: Seq[Long]) = spark.createDataFrame(
    sigs.zipWithIndex.map { case (h, i) => Row(i.toLong, h) }.asJava, schema)

  private val rnd = new scala.util.Random(11)

  // 60 docs with ONE collapsed signature + background noise: the hot
  // block exists in EVERY layout (all chunks and all combos agree), so
  // the forecast ties on pairs, breaks to the smaller single-chunk
  // index, and composes the salt guard for the 60-doc block.
  private val collapsed: Seq[Long] =
    Seq.fill(60)(0x1234567890ABCDEFL) ++ Seq.fill(30)(rnd.nextLong())

  // 4000 uniform random signatures: expected single-chunk chance
  // agreements ≈ 4·C(4000,2)/2¹⁶ ≈ 490 pairs vs ≈ 1 under the 2²⁶
  // pair-of-chunks keys — the birthday term the wide layout exists for.
  private val uniform: Seq[Long] = Seq.fill(4000)(rnd.nextLong())

  test("signature-collapse corpus → salted layout; uniform corpus → wide layout") {
    assert(Dedup.autoBlockingChoice(sigDf(collapsed)) == Dedup.Salted)
    assert(Dedup.autoBlockingChoice(sigDf(uniform)) == Dedup.Wide)
  }

  test("auto-selected layout emits exactly the plain dedup_hamming pair set on both shapes") {
    // maxDist 4: pair-of-chunks keys over 5 chunks are inexact there,
    // so only single-chunk layouts may be chosen
    for (sigs <- Seq(collapsed, uniform.take(600)); maxDist <- Seq(3, 4)) {
      val df = sigDf(sigs).cache()
      val auto = Dedup.hammingPairsFrom(df, Dedup.autoBlockingChoice(df, maxDist))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val plain = Dedup.hammingPairsFrom(df, Dedup.Blocking(maxDist, maxDist + 1))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(auto == plain,
        s"auto=${auto.size} plain=${plain.size} diff=${(auto diff plain) ++ (plain diff auto)}")
      df.unpersist()
    }
  }
}
