package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cosine is computed with an explicit fold — `aggregate(zip_with(...))`
  * — in double precision, the exact formula the DuckDB oracle replays
  * (dot/(norm_a*norm_b), sequential summation), so scores are
  * bit-comparable after rounding.
  *
  * Scale path: brute force is the correctness baseline (O(Q·N) with Q
  * small); the LSH variant buckets vectors by sign-bit signature so the
  * pairwise work happens inside hash-partitioned buckets — a co-located
  * equi-join at 100 TB, not a cross join.
  */
object Similarity {

  import Tables.trunc6

  /** Vectors cast to double with a precomputed L2 norm. The dot product
    * is the native fused [[graft.functions.DotProduct]] expression —
    * same left-to-right double fold as the composable
    * aggregate(zip_with(...)) form and DuckDB's list_dot_product, so
    * scores are bit-identical, but with no per-row intermediate array. */
  private[ops] def vectors(s: SparkSession, dir: String): DataFrame = {
    // register OUTSIDE the memo: consumers build graft_dot expressions
    // of their own, so a fresh session needs the function even when the
    // relation itself comes back from the memo
    graft.functions.DotProduct.register(s)
    // Memoized (NORMED VECTOR INDEX): 18 similarity/embedding queries
    // start here; the cast + norm run at scan rate but each consumer
    // otherwise re-reads the embedding parquet and re-norms every row.
    // the cast and norm are oracle contract
    Tables.memoized("vectors", s, dir) {
      Tables.embeddings(s, dir).select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .drop("embedding")
        .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
    }
  }

  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Shared top-k finisher for every ANN variant: per-query best-k
    * neighbors by (cos DESC, neighbor_id) from a scored candidate
    * relation (query_id, neighbor_id, cos). Uses the native bounded
    * aggregate [[graft.functions.TopKPairs]] instead of a row_number
    * window: the window shuffles every candidate row to its query's
    * partition and SORTS the full candidate list just to keep k, while
    * the aggregate combines map-side and ships ≤k pairs per query —
    * at 100 TB candidate lists are millions of rows per query and this
    * is the difference between shuffling the candidate set and shuffling
    * k·Q rows. Identical output contract to the window form (the DuckDB
    * oracles still rank with row_number — result equality is re-proven
    * on every CORRECTNESS run). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.TopKPairs.register(scored.sparkSession)
    scored
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cos, neighbor_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.payload").as("neighbor_id"),
              (col("pos") + 1).cast("long").as("rk"),
              trunc6(col("e.score")).as("cos"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Brute-force cosine top-k: first `nQueries` vec_ids are the query
    * set; rank all others by cosine (desc, vec_id tiebreak). The query
    * side is broadcast, so the big side streams once with no shuffle —
    * and the [[topK]] finisher aggregates map-side, so the only shuffled
    * rows are k pairs per query, never the N scored candidates. */
  def bruteForceTopK(s: SparkSession, dir: String,
                     nQueries: Int = 8, k: Int = 5): DataFrame = {
    val vs = vectors(s, dir)
    val q = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    topK(vs.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              (dot("qv", "v") / (col("qnorm") * col("norm"))).as("cos")), k)
  }

  /** MATRYOSHKA / truncated-embedding evaluation: recall of
    * PREFIX-dimension cosine search against the full-dimension exact
    * truth, per prefix length — the measurement a deployment runs
    * before switching its index to truncated embeddings (an 8× dim
    * cut is an 8× cut in vector storage, ADC bandwidth and rerank
    * FLOPs; MRL-trained models keep prefixes usable, and this report
    * says whether YOURS did, on YOUR corpus). For each m ∈ dims:
    * brute top-k under cosine over v[1..m] (prefix RE-NORMED —
    * truncation breaks unit norms; zero prefixes are excluded on both
    * sides) scored against the full-dim top-k. Overlap counts are
    * exact integers; recall is one final trunc6 division — so the
    * oracle replays every row. The m = full-dims row is the built-in
    * sanity check (recall 1.0 by construction). Scale shape: each
    * prefix pass is the brute scan (one streamed pass against the
    * broadcast query set, bounded top-k agg, no shuffle of the
    * corpus) — an offline, sampled evaluation, never a serving path. */
  def prefixRecall(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                   dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val vs = vectors(s, dir)
    val truth = bruteForceTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val perDim = dims.map { m =>
      val pv = vs.select(col("vec_id"), expr(s"slice(v, 1, $m)").as("pv"))
        .withColumn("pnorm", expr("sqrt(graft_dot(pv, pv))"))
        .filter(col("pnorm") > 0)
      val q = pv.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("pv").as("qv"),
                col("pnorm").as("qnorm"))
      val top = topK(pv.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
                (dot("qv", "pv") / (col("qnorm") * col("pnorm"))).as("cos")), k)
      top.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy().agg(count(lit(1)).as("n_hits"))
        .select(lit(m.toLong).as("prefix_dims"), col("n_hits"))
    }
    perDim.reduce(_ unionByName _)
      .withColumn("n_queries", lit(nQueries.toLong))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall",
        trunc6(col("n_hits").cast("double") / (nQueries.toLong * k)))
      .select(col("prefix_dims"), col("n_queries"), col("k"),
              col("n_hits"), col("recall"))
      .orderBy(col("prefix_dims"))
  }

  /** BINARY (sign-bit) embedding evaluation — [[prefixRecall]]'s
    * sibling for the other standard compression axis: quantize every
    * dimension to its SIGN (1 bit/dim — a 32× cut vs float32, the
    * binary-embedding deployment shape), rank neighbors by integer
    * Hamming distance over the sign bits, and score the top-k against
    * the full-precision cosine truth per query. Distances are exact
    * integers end-to-end (no float enters the ranking), so the oracle
    * replays every row bit-for-bit; recall is the one final trunc6
    * division. Per-query rows rather than one aggregate: binary
    * quantization degrades UNEVENLY (queries near the axes keep their
    * neighborhoods, centroid-adjacent ones lose them), and the
    * per-query spread is what the deployment decision actually reads.
    * Scale shape: the same broadcast-query brute scan as
    * [[bruteForceTopK]]; in production the bit vectors are 64-bit
    * words and the scan is XOR+popcount — the layout changes, the
    * report does not. */
  def signRecall(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val vs = vectors(s, dir)
    val truth = bruteForceTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val bits = vs.select(col("vec_id"),
      expr("transform(v, x -> CASE WHEN x > 0 THEN 1L ELSE 0L END)").as("b"))
    val q = bits.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("b").as("qb"))
    // integer Hamming, negated into the shared (score DESC, id ASC)
    // top-k contract: -hamming is exact in double far below 2^52
    val scored = bits.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("""-CAST(aggregate(zip_with(b, qb, (x, y) -> CASE WHEN x <> y THEN 1L ELSE 0L END),
               |0L, (acc, e) -> acc + e) AS DOUBLE)""".stripMargin).as("cos"))
    topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rk"),
              (-col("cos")).cast("long").as("hamming"))
      .join(truth.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ranked"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
           min(col("hamming")).as("min_hamming"),
           max(col("hamming")).as("max_hamming"))
      .withColumn("recall", trunc6(col("n_hits").cast("double") / k))
      .orderBy(col("query_id"))
  }

  /** INT8 SCALAR-QUANTIZATION evaluation — the third
    * compression lever beside prefix truncation ([[prefixRecall]],
    * 2-8×) and sign binarization ([[signRecall]], 32×): symmetric
    * per-DIMENSION absmax quantization to 8-bit codes (the standard
    * int8 serving format, 4× vs float32), neighbors ranked by the
    * EXACT integer dot product of the codes, top-k scored against the
    * full-precision cosine truth per query. Completes the
    * storage/recall frontier a deployment reads before choosing its
    * vector format. ([[quantizeInt8]] is the write-side verification
    * MANIFEST of the per-vector-scale variant; this is the
    * retrieval-quality read of the per-dim-scale variant an int8
    * serving tier actually deploys — shared scales are what let the
    * scan use one SIMD kernel.)
    *
    * Determinism: the per-dim scales are max(|x|) over exact doubles;
    * x/s·127 is two correctly-rounded IEEE ops in a fixed order;
    * floor lands on exact integers; code products and sums stay
    * integral (≤ 64·127² ≪ 2⁵³), so the ranking is pure integer order
    * with id tiebreaks — the oracle replays every row bit-for-bit and
    * recall is the one final trunc6 division.
    *
    * Scale shape: the scale pass is dimStats' posexplode →
    * map-side-combined 64-group aggregate (the Exchange carries ≤64
    * rows per upstream partition); the 64 scales are a bounded driver
    * constant like every centroid seed here; the scan is the same
    * broadcast-query brute shape as [[bruteForceTopK]], finishing on
    * the bounded native top-k. In production the codes live in their
    * own 64 B/vector table and the scan is SIMD int8 dot — the layout
    * changes, the report does not. */
  /** The (vec_id, q8) INT8 CODE relation under per-dim absmax scales —
    * one derivation for the recall report and the serving path, and
    * the single-JVM stand-in for the 64 B/vector code table an int8
    * tier persists. Memoized like every signature index here: the
    * scale pass (a map-side-combined 64-group aggregate + a bounded
    * 64-value driver constant) and the quantization projection run
    * once per (session, dir). */
  private def sq8Codes(s: SparkSession, dir: String): DataFrame =
    Tables.memoized("sq8Codes", s, dir) {
      val vs = vectors(s, dir)
      val scales = vs.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(max(abs(col("x"))).as("mx"))
        .orderBy(col("pos"))
        .collect().map { r => val m = r.getDouble(1); if (m == 0.0) 1.0 else m }
      val scaleArr = array(scales.map(lit(_)): _*)
      vs.select(col("vec_id"),
        zip_with(col("v"), scaleArr, (x, sc) => floor(x / sc * lit(127.0))).as("q8"))
    }

  /** Force the int8 code relation (the bench's `build:sq8_codes` row). */
  private[ops] def ensureSq8Codes(s: SparkSession, dir: String): Unit = {
    sq8Codes(s, dir); ()
  }

  def sq8Recall(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val truth = bruteForceTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val codes = sq8Codes(s, dir)
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q8").as("qq"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("q8"), col("qq"), (a, b) => a * b),
          lit(0L), (acc, e) => acc + e).cast("double").as("cos"))
    topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rk"),
              col("cos").cast("long").as("dot8"))
      .join(truth.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ranked"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
           min(col("dot8")).as("min_dot8"),
           max(col("dot8")).as("max_dot8"))
      .withColumn("recall", trunc6(col("n_hits").cast("double") / k))
      .orderBy(col("query_id"))
  }

  /** INT8 two-stage SERVING — [[sq8Recall]]'s report made a
    * server, completing the report→server pattern the prefix family
    * set: stage 1 shortlists by the EXACT integer dot product over the
    * int8 codes (the 64 B/vector scan an int8 tier runs with one SIMD
    * kernel — 4× less bandwidth than float32), stage 2 reranks the
    * shortlist with the exact full-dim cosine — the one
    * [[fullDimRerank]] every two-stage server here shares. Stage-1
    * ordering is pure integer with id tiebreaks, so the oracle replays
    * both stages bit-for-bit. */
  def sq8TopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
              shortlist: Int = 64): DataFrame =
    fullDimRerank(s, dir, sq8Shortlist(s, dir, nQueries, shortlist), nQueries, k)

  /** Stage 1 of [[sq8TopK]] ALONE — the int8 scan + bounded
    * top-`shortlist`, no rerank. Public so SCALECHECK can price the
    * two stages separately; the server composes
    * exactly this with [[fullDimRerank]], so the priced stage IS the
    * served stage. */
  def sq8Shortlist(s: SparkSession, dir: String, nQueries: Int = 8,
                   shortlist: Int = 64): DataFrame = {
    val codes = sq8Codes(s, dir)
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q8").as("qq"))
    topK(codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("q8"), col("qq"), (a, b) => a * b),
          lit(0L), (acc, e) => acc + e).cast("double").as("cos")), shortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** TWO-STAGE prefix-dim ANN serving — the
    * retrieval shape [[prefixRecall]]'s report exists to justify:
    * stage 1 shortlists `shortlist` candidates per query by cosine
    * over the first `prefixDims` dimensions (prefix RE-NORMED, zero
    * prefixes excluded — [[prefixRecall]]'s conventions, so the
    * report's recall numbers predict THIS server's shortlist), and
    * stage 2 reranks only the shortlist with the EXACT full-dim
    * cosine. The standard Matryoshka deployment: the prefix scan
    * touches half the bytes (32 of 64 dims — these synthetic
    * embeddings are near-isotropic, so prefix signal is proportional
    * to dims kept; an MRL-trained model concentrates it and the same
    * op serves 8-of-64), and full-precision FLOPs are paid on
    * `shortlist` rows per query instead of N.
    *
    * Scale shape: stage 1 is the broadcast-query brute scan over the
    * SLICED vectors (at 100 TB the prefix columns live in their own
    * index table so the scan reads prefix bytes only; the slice here
    * stands in for that projection), bounded by the native top-k
    * aggregate; stage 2's joins are hash equi-joins on plain ids over
    * shortlist·Q rows. Determinism: both stages rank raw double cosine
    * with id tiebreaks (the exact fold DuckDB replays); the served
    * score is the full-dim cosine, trunc6 like every ANN row. Recall
    * < 1 is possible BY DESIGN (the shortlist can miss a true
    * neighbor whose prefix disagrees) — SimilaritySpec proves the
    * stage is non-vacuous (shortlist ≠ full ordering) and that the
    * final top-k stays near the brute truth. */
  def prefixTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                 prefixDims: Int = 32, shortlist: Int = 64): DataFrame =
    prefixTopKOver(s, dir, prefixVectors(s, dir, prefixDims), nQueries, k,
      shortlist, identity)

  /** [[prefixTopK]] with stage 1 reading the PERSISTED prefix table
    * ([[IndexTables.ensurePrefixIndex]]) — the claim in the in-plan
    * form's doc made real: at scale the prefix columns live in their
    * own NARROW table (half the vector bytes at 32-of-64), so the
    * shortlist scan never touches full-width rows; only the
    * shortlist·Q rerank rows do. Identical output BY the shared body;
    * shares `ann_prefix_topk`'s oracle text (the twin-alias
    * contract). */
  def prefixTopKIndexed(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                        prefixDims: Int = 32, shortlist: Int = 64): DataFrame = {
    graft.functions.DotProduct.register(s)
    graft.functions.TopKPairs.register(s)
    prefixTopKOver(s, dir,
      s.table(IndexTables.ensurePrefixIndex(s, dir, prefixDims)),
      nQueries, k, shortlist, identity)
  }

  /** The declared TOMBSTONE TWIN of [[prefixTopK]]
    * (`ann_prefix_deleted`): the two-stage prefix server with the
    * deterministic delete set `vec_id ≡ 0 mod 7` masked out of the
    * CANDIDATE side ([[ivfTopKDeleted]]'s pattern, applied to the
    * prefix family). One shared body ([[prefixTopKOver]]) means the
    * masked and the unmasked server cannot drift. */
  def prefixTopKDeleted(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                        prefixDims: Int = 32, shortlist: Int = 64,
                        deleteMod: Long = 7): DataFrame = {
    val pv = prefixVectors(s, dir, prefixDims)
    val tombs = pv.filter(col("vec_id") % deleteMod === 0).select(col("vec_id"))
    prefixTopKOver(s, dir, pv, nQueries, k, shortlist,
      rel => rel.join(broadcast(tombs), Seq("vec_id"), "left_anti"))
  }

  /** The sliced, re-normed, zero-excluded prefix relation — ONE
    * definition for the in-plan path and the persisted index build
    * ([[prefixRecall]]'s conventions, which is what makes its report
    * predictive of this server's shortlist). */
  private[ops] def prefixVectors(s: SparkSession, dir: String, m: Int): DataFrame =
    vectors(s, dir)
      .select(col("vec_id"), expr(s"slice(v, 1, $m)").as("pv"))
      .withColumn("pnorm", expr("sqrt(graft_dot(pv, pv))"))
      .filter(col("pnorm") > 0)

  /** THE two-stage body over an explicit (vec_id, pv, pnorm) prefix
    * relation — shortlist by prefix cosine, exact full-dim rerank.
    * `corpusMask` filters the NEIGHBOR side before the shortlist is
    * taken (queries are never masked — ivfTopKDeleted's convention):
    * serving passes `identity`, the declared deleted twin the explicit
    * mod-set anti-join — one body, so a masked-out vector never
    * consumes a shortlist slot and the top-k refills from survivors. */
  private def prefixTopKOver(s: SparkSession, dir: String, pv: DataFrame,
                             nQueries: Int, k: Int, shortlist: Int,
                             corpusMask: DataFrame => DataFrame): DataFrame =
    fullDimRerank(s, dir,
      prefixShortlistOver(pv, nQueries, shortlist, corpusMask), nQueries, k)

  private def prefixShortlistOver(pv: DataFrame, nQueries: Int, shortlist: Int,
                                  corpusMask: DataFrame => DataFrame): DataFrame = {
    val q = pv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pv").as("qv"), col("pnorm").as("qnorm"))
    topK(corpusMask(pv).join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              (dot("qv", "pv") / (col("qnorm") * col("pnorm"))).as("cos")), shortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Stage 1 of [[prefixTopK]] ALONE — the prefix-cosine scan +
    * bounded top-`shortlist`, no rerank (SCALECHECK stage pricing;
    * same shared body the server composes). */
  def prefixShortlist(s: SparkSession, dir: String, nQueries: Int = 8,
                      prefixDims: Int = 32, shortlist: Int = 64): DataFrame =
    prefixShortlistOver(prefixVectors(s, dir, prefixDims), nQueries, shortlist, identity)

  /** Stage 1 of [[prefixTopKIndexed]] ALONE — the shortlist read off
    * the persisted NARROW prefix table (SCALECHECK stage pricing). */
  def prefixShortlistIndexed(s: SparkSession, dir: String, nQueries: Int = 8,
                             prefixDims: Int = 32, shortlist: Int = 64): DataFrame = {
    graft.functions.DotProduct.register(s)
    graft.functions.TopKPairs.register(s)
    prefixShortlistOver(s.table(IndexTables.ensurePrefixIndex(s, dir, prefixDims)),
      nQueries, shortlist, identity)
  }

  /** IVF over the PREFIX space — the two scale levers COMPOSED: the
    * stage-1 shortlist scans only the PROBED inverted lists
    * (candidates ÷ nlist/nprobe) of the NARROW prefix relation (bytes
    * ÷ dims/prefixDims), and stage 2 still reranks with the exact
    * full-dim cosine. Quantizer, assignment, probes and tiebreaks are
    * the engine's ONE IVF machinery ([[seedCentroids]]'s id
    * convention sliced into prefix space; [[nearestCentroids]];
    * [[ivfSearchWithProbes]]) — applied to (pv, pnorm) instead of
    * (v, norm), so the oracle replays every stage with the same SQL
    * recipes. nprobe = 4 of 8 lists: with prefix loss stacked on list
    * pruning, probing half the space keeps the composed recall
    * serviceable (measured in SimilaritySpec against the brute truth);
    * the deployment knob is the same nprobe/recall trade every IVF
    * variant here documents. */
  def prefixIvfTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                    prefixDims: Int = 32, shortlist: Int = 64, nprobe: Int = 4): DataFrame =
    fullDimRerank(s, dir,
      prefixIvfShortlist(s, dir, nQueries, prefixDims, shortlist, nprobe),
      nQueries, k)

  /** Stage 1 of [[prefixIvfTopK]] ALONE — probed-list prefix scan +
    * bounded top-`shortlist` (SCALECHECK stage pricing). */
  def prefixIvfShortlist(s: SparkSession, dir: String, nQueries: Int = 8,
                         prefixDims: Int = 32, shortlist: Int = 64,
                         nprobe: Int = 4): DataFrame = {
    val pv = prefixVectors(s, dir, prefixDims)
      .select(col("vec_id"), col("pv").as("v"), col("pnorm").as("norm"))
    val cents = pv.filter(col("vec_id") >= 100 && col("vec_id") < 100 + IvfNList)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("norm").as("cnorm"))
    ivfSearchWithProbes(
      nearestCentroids(pv.filter(col("vec_id") < nQueries), cents, nprobe, "q"),
      nearestCentroids(pv, cents, 1, "n"), shortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Stage 2 of every two-stage prefix server: exact full-dim cosine
    * over a (query_id, neighbor_id) shortlist — hash equi-joins on
    * plain ids, shortlist·Q rows, one definition. A deleted twin
    * masks its candidates UPSTREAM, before the shortlist is taken
    * ([[prefixTopKDeleted]]), so a deleted vector never consumes a
    * rerank slot and the top-k refills from survivors. */
  private def fullDimRerank(s: SparkSession, dir: String, short: DataFrame,
                            nQueries: Int, k: Int): DataFrame = {
    val vs = vectors(s, dir)
    val qf = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    topK(short
      .join(vs.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")),
        Seq("neighbor_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              (dot("qv", "v") / (col("qnorm") * col("norm"))).as("cos")), k)
  }

  /** HYBRID RETRIEVAL — reciprocal-rank fusion of the
    * lexical (BM25, [[TextAnalysis.bm25TopK]]) and vector (exact
    * cosine, [[bruteForceTopK]]) rankings over the SAME id space:
    * rrf(d) = Σ_source 1/(k0 + rank_source(d)) with the standard
    * k0 = 60, each source contributing its top-`pool` per query — the
    * fusion every hybrid search stack (lexical + dense) serves,
    * rank-based so the two engines' incomparable score scales never
    * need calibration. Determinism: ranks are exact integers, the two
    * reciprocal terms are added in one fixed-order expression (IEEE-
    * identical on both engines), ties break on doc_id.
    *
    * Scale shape: both inputs are already bounded top-`pool` relations
    * (≤ 2·pool rows per query reach the fusion), so the final
    * per-query window sorts a constant-size list — the expensive work
    * happens inside the two source retrievals, each with its own
    * documented scale story (inverted-index bound; broadcast-query
    * scan with bounded top-k, or any indexed ANN path at deployment). */
  def hybridRrfTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                    pool: Int = 20, k0: Int = 60): DataFrame = {
    // lexical leg off the persisted postings table — row-identical to
    // the in-plan form (BM25 twin identity, spec-proven), and the
    // tokenize pass is the index build's cost, not this query's; both
    // legs read the one corpus at `dir`
    val lex = TextAnalysis.bm25TopKIndexed(s, dir, nQueries, pool)
      .select(col("query_id"), col("doc_id"), col("rk").as("lex_rk"))
    val vec = bruteForceTopK(s, dir, nQueries, pool)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rk").as("vec_rk"))
    rrfFuse(lex, vec, k, k0)
  }

  /** [[hybridRrfTopK]] with the vector leg served off the INT8
    * two-stage index ([[sq8TopK]] — stage 1 the 64 B/vector code scan,
    * stage 2 the full-dim rerank of a 64-deep shortlist) instead of the
    * brute float scan: the 100 TB deployment
    * shape, where BOTH hybrid legs ride persisted index tables — BM25
    * off the bucketed postings + stat side tables, cosine off the int8
    * code table. The fusion body is shared with the brute form, so the
    * two can never drift on RRF semantics; the only divergence is the
    * vector pool's membership where the int8 shortlist misses a true
    * neighbor (recall < 1 BY DESIGN, priced in SCALECHECK alongside the
    * other two-stage servers). Deterministic end to end — quantization,
    * integer stage-1 order, exact rerank, integer ranks — so the
    * declared oracle replays the indexed legs themselves, not a
    * looser rows-only check. */
  def hybridRrfTopKIndexed(s: SparkSession, dir: String, nQueries: Int = 8,
                           k: Int = 5, pool: Int = 20, k0: Int = 60,
                           shortlist: Int = 64): DataFrame = {
    val lex = TextAnalysis.bm25TopKIndexed(s, dir, nQueries, pool)
      .select(col("query_id"), col("doc_id"), col("rk").as("lex_rk"))
    val vec = sq8TopK(s, dir, nQueries, pool, shortlist)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rk").as("vec_rk"))
    rrfFuse(lex, vec, k, k0)
  }

  /** The shared RRF fusion body: full-outer join of two bounded
    * (query_id, doc_id, rank) pools, one fixed-order reciprocal sum,
    * ties on doc_id. ≤ 2·pool rows per query reach the window. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int, k0: Int): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("lex_rk") + lit(k0)), lit(0.0)) +
        coalesce(lit(1.0) / (col("vec_rk") + lit(k0)), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rk"),
              trunc6(col("rrf")).as("rrf"), col("lex_rk"), col("vec_rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Contrastive HARD-NEGATIVE mining — the candidate-generation step
    * of a metric-learning / embedding-finetune data pipeline (the
    * DPR/SimCSE-style training-set recipe: anchors paired with their
    * closest WRONG-label points, which a contrastive loss learns most
    * from): per query vector, the best same-label neighbor (the
    * positive) and the top-`k` different-label neighbors by cosine,
    * with the positive-negative margin (a small or negative margin
    * flags anchors whose neighborhood is label-confused — the rows a
    * curation run inspects first). Same broadcast-query scan shape as
    * [[bruteForceTopK]], and both rankings ride the bounded native
    * [[topK]] aggregate, so the corpus streams once and only k+1 rows
    * per query ever shuffle. Margin subtracts the two already-
    * quantized cosines — IEEE subtraction of identical operands, so
    * the oracle reproduces it bit-for-bit. */
  def hardNegatives(s: SparkSession, dir: String,
                    nQueries: Int = 8, k: Int = 3): DataFrame = {
    val vs = vectors(s, dir)
    val q = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
              col("v").as("qv"), col("norm").as("qnorm"))
    val scored = vs.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id").as("neighbor_id"),
              col("label"),
              (dot("qv", "v") / (col("qnorm") * col("norm"))).as("cos"))
    val neg = topK(scored.filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("neighbor_id"), col("cos")), k)
    val pos = topK(scored.filter(col("label") === col("qlabel"))
      .select(col("query_id"), col("neighbor_id"), col("cos")), 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
              col("cos").as("pos_cos"))
    neg.join(pos, Seq("query_id"))
      .select(col("query_id"), col("rk").as("neg_rank"), col("neighbor_id"),
              col("cos").as("neg_cos"), col("pos_id"), col("pos_cos"),
              (col("pos_cos") - col("cos")).as("margin"))
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** Sign-bit LSH bucket: 4-bit signature from the signs of dims 0-3.
    * Deterministic (no RNG) so the oracle derives the same buckets. */
  private[ops] def bucketed(s: SparkSession, dir: String): DataFrame =
    vectors(s, dir).withColumn("bucket", expr(
      "CAST(CASE WHEN v[0] > 0 THEN 8 ELSE 0 END + CASE WHEN v[1] > 0 THEN 4 ELSE 0 END + " +
      "CASE WHEN v[2] > 0 THEN 2 ELSE 0 END + CASE WHEN v[3] > 0 THEN 1 ELSE 0 END AS BIGINT)"))

  /** LSH-bucketed ANN: same query set, but candidates are restricted to
    * the query's bucket — the 100 TB path (each bucket is one shuffle
    * partition group; recall trades against bucket count). */
  def lshTopK(s: SparkSession, dir: String,
              nQueries: Int = 8, k: Int = 3): DataFrame = {
    val vs = bucketed(s, dir)
    val q = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("norm").as("qnorm"), col("bucket").as("qbucket"))
    topK(vs
      .join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              (dot("qv", "v") / (col("qnorm") * col("norm"))).as("cos")), k)
  }

  /** Multi-probe sign-LSH ANN: each query probes its own bucket PLUS the
    * four buckets at Hamming distance 1 (one sign bit flipped) — the
    * standard recall/latency knob for LSH (probe count trades scan width
    * for recall without growing the index). Probes explode query-side
    * only (5 rows per query), so the big side still streams once through
    * a bucket equi-join; each vector lives in exactly one bucket, so no
    * candidate dedup is needed. */
  def lshMultiProbeTopK(s: SparkSession, dir: String,
                        nQueries: Int = 8, k: Int = 3): DataFrame = {
    val vs = bucketed(s, dir)
    val q = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("norm").as("qnorm"), col("bucket").as("qbucket"))
      .withColumn("pbucket", explode(array(
        col("qbucket"),
        expr("CAST(qbucket ^ 1 AS BIGINT)"), expr("CAST(qbucket ^ 2 AS BIGINT)"),
        expr("CAST(qbucket ^ 4 AS BIGINT)"), expr("CAST(qbucket ^ 8 AS BIGINT)"))))
    topK(vs
      .join(broadcast(q), col("bucket") === col("pbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              (dot("qv", "v") / (col("qnorm") * col("norm"))).as("cos")), k)
  }

  /** IVF (inverted-file) ANN — the scale path beyond hash bucketing:
    * a small deterministic centroid set (vectors 100..107 as the 8
    * "trained" centroids — no RNG, so the oracle replays it), every
    * vector assigned to its nearest centroid (one broadcast pass over N),
    * and each query probing its `nprobe`=2 closest inverted lists. The
    * centroid table is the ONLY broadcast relation — at 100 TB nlist is
    * thousands while N is billions, so assignment stays a single streamed
    * map and candidate generation is an equi-join on list_id. */
  def ivfTopK(s: SparkSession, dir: String,
              nQueries: Int = 8, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val vs = vectors(s, dir)
    ivfSearch(vs, seedCentroids(vs), seedAssignment(s, dir), nQueries, k, nprobe)
  }

  /** Inverted-list count of the deterministic seed quantizer — the ONE
    * constant [[seedCentroids]]'s id range, [[ivfCellStats]]'s uniform-
    * load divisor, and the `cents`/load-factor literals in the SQL
    * oracles must all track (the oracles hardcode 8 and say so). */
  private[ops] val IvfNList = 8

  /** The deterministic "trained" seed set: vectors 100..100+nlist (no
    * RNG, so the oracle replays it). */
  private def seedCentroids(vs: DataFrame): DataFrame =
    vs.filter(col("vec_id") >= 100 && col("vec_id") < 100 + IvfNList)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("norm").as("cnorm"))

  /** Top-`keep` nearest centroids per vector: the ONE assignment block
    * every IVF stage (index assignment, query probing, k-means update)
    * shares — the (ccos DESC, cent_id) tiebreak is oracle contract and
    * must be identical everywhere, so it lives in exactly one place. */
  private def nearestCentroids(rel: DataFrame, cents: DataFrame,
                               keep: Int, outPrefix: String): DataFrame = {
    val scored = rel.crossJoin(broadcast(cents))
      .withColumn("ccos", dot("cv", "v") / (col("cnorm") * col("norm")))
    if (keep == 1)
      // The keep=1 callers are the CORPUS-SIZED assignments (seed
      // assignment, Lloyd re-assignment, label confusion): a window
      // here shuffled and sorted all N·nlist scored rows, where one
      // argmax per vector is a map-side-combining aggregate shipping
      // ONE row per vector (the same window→bounded-
      // aggregate replacement as topK). The (ccos DESC, cent_id ASC)
      // tiebreak is oracle contract — max_by over (ccos, -cent_id)
      // reproduces it exactly.
      scored.groupBy(col("vec_id"))
        .agg(expr("""max_by(named_struct('cent_id', cent_id, 'v', v, 'norm', norm),
                    |       named_struct('c', ccos, 't', -cent_id))""".stripMargin).as("m"))
        .select(col("vec_id").as(s"${outPrefix}_id"), col("m.cent_id").as("list_id"),
                col("m.v").as(s"${outPrefix}_v"), col("m.norm").as(s"${outPrefix}_norm"))
    else {
      // keep = nprobe runs only on the query set (nQueries rows) —
      // window cost is trivial there and row_number keeps it simple
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
      scored
        .withColumn("crk", row_number().over(w))
        .filter(col("crk") <= keep)
        .select(col("vec_id").as(s"${outPrefix}_id"), col("cent_id").as("list_id"),
                col("v").as(s"${outPrefix}_v"), col("norm").as(s"${outPrefix}_norm"))
    }
  }

  /** Memoized seed-quantizer assignment (every vector in exactly one
    * list, vector payload carried) — the INVERTED INDEX all
    * seed-centroid IVF ops read (search, cell stats, Lloyd update,
    * SemDeDup clustering, k-NN pooling). An IVF deployment assigns
    * once at index-build time, so none of those five queries re-runs
    * the broadcast-assign pass over N. */
  private[ops] def seedAssignment(s: SparkSession, dir: String): DataFrame =
    Tables.memoized("ivfSeedAssign", s, dir) {
      val vs = vectors(s, dir)
      nearestCentroids(vs, seedCentroids(vs), 1, "n")
    }

  /** [[ivfTopK]] reading the PERSISTED inverted-list table
    * ([[IndexTables.ensureIvfIndex]]) instead of the memoized
    * assignment — the serving shape of an IVF deployment: the
    * assignment pass over all N vectors is paid once at index-build
    * time, and a query-time plan touches only the probe computation
    * (query set × broadcast centroids) plus an equi-join on list_id
    * against the partitioned table. Identical rows to [[ivfTopK]];
    * same driver oracle. */
  def ivfTopKIndexed(s: SparkSession, dir: String,
                     nQueries: Int = 8, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val (probes, lists) = probeSelection(s, dir, nQueries, nprobe)
    val assigned = s.table(IndexTables.ensureIvfIndex(s, dir))
      .filter(col("list_id").isin(lists: _*))
      .select(col("n_id"), col("list_id"), col("n_v"), col("n_norm"))
    ivfSearchWithProbes(probes, assigned, k)
  }

  /** Predicate-FILTERED ANN top-k — the "vector search with a WHERE
    * clause" every retrieval deployment needs (RAG filtering by
    * tenant/date/source; a training pipeline mining negatives within
    * one domain). The engine picks its strategy from the EXACT pass
    * rate of the predicate — two bounded count micro-jobs here; at
    * 100 TB the same numbers come from the partition statistics every
    * planner already keeps:
    *
    *  - pass rate ≤ 1/2 → BRUTE over the filtered subset. A selective
    *    filter prunes the corpus below what oversampled probes would
    *    scan, the scan is one streamed pass against the broadcast
    *    query set (no shuffle), and the result is exact — the
    *    pre-filter rule every production vector store applies.
    *  - pass rate > 1/2 → IVF probes at 2× OVERSAMPLED nprobe,
    *    post-filtered. Most candidates survive a broad predicate, so
    *    the inverted lists stay the cheaper scan; oversampling
    *    compensates the post-filter loss (a deployment scales nprobe
    *    by 1/pass-rate — at pass rate ≥ 1/2 the fixed 2× covers it).
    *    The post-filter is a left-semi join on the hashed vec_id —
    *    the general shape when the predicate is an id SET from
    *    another relation (docs not yet trained on, un-quarantined
    *    tenants); for a stored column a deployment materializes the
    *    predicate column in the index rows and the semi-join becomes
    *    a scan predicate on the pruned lists. Never all-pairs either
    *    way.
    *
    * Both branches are deterministic and the choice is a pure
    * function of exact counts, so the oracle replays strategy AND
    * rows. Declared with two scenarios — `label = 3` (~10%, brute)
    * and `label ≠ 3` (~90%, ivf_post) — so the adaptive switch is
    * non-vacuous inside one result at every SF. */
  def filteredTopK(s: SparkSession, dir: String,
                   nQueries: Int = 8, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val vs = vectors(s, dir)
    val q = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val nTotal = vs.count()
    def scenario(name: String, pred: Column): DataFrame = {
      val cand = vs.filter(pred)
      val brute = cand.count() * 2 <= nTotal
      val ranked =
        if (brute)
          topK(cand
            .join(broadcast(q), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
                    (dot("qv", "v") / (col("qnorm") * col("norm"))).as("cos")), k)
        else {
          val probes = nearestCentroids(
            vs.filter(col("vec_id") < nQueries), seedCentroids(vs), nprobe * 2, "q")
          topK(seedAssignment(s, dir)
            .join(broadcast(probes), Seq("list_id"))
            .filter(col("q_id") =!= col("n_id"))
            .join(cand.select(col("vec_id").as("n_id")), Seq("n_id"), "left_semi")
            .select(col("q_id").as("query_id"), col("n_id").as("neighbor_id"),
                    (dot("q_v", "n_v") / (col("q_norm") * col("n_norm"))).as("cos")), k)
        }
      ranked.withColumn("scenario", lit(name))
        .withColumn("strategy", lit(if (brute) "brute" else "ivf_post"))
    }
    scenario("selective", col("label") === 3)
      .unionByName(scenario("broad", col("label") =!= 3))
      .select(col("scenario"), col("strategy"), col("query_id"),
              col("neighbor_id"), col("rk"), col("cos"))
      .orderBy(col("scenario"), col("query_id"), col("rk"))
  }

  /** Tombstone-masked IVF search: candidates anti-joined against a
    * tombstone id relation before ranking (a broadcast anti-join on
    * the id, never a rewrite of the inverted lists), so a deleted
    * vector never consumes a top-k slot. The declared tombstone set is
    * deterministic (vec_id ≡ 0 mod `deleteMod`) so the oracle replays
    * it. Queries are never masked. */
  def ivfTopKDeleted(s: SparkSession, dir: String,
                     nQueries: Int = 8, k: Int = 5, nprobe: Int = 2,
                     deleteMod: Long = 7): DataFrame = {
    val vs = vectors(s, dir)
    val probes = nearestCentroids(
      vs.filter(col("vec_id") < nQueries), seedCentroids(vs), nprobe, "q")
    val tombs = vs.filter(col("vec_id") % deleteMod === 0)
      .select(col("vec_id").as("n_id"))
    ivfSearchWithProbes(probes,
      seedAssignment(s, dir).join(broadcast(tombs), Seq("n_id"), "left_anti"), k)
  }

  /** Late-interaction (multi-vector) rerank — the ColBERT-style
    * serving shape: a cheap single-vector ANN stage shortlists
    * candidates, then the shortlist is re-scored by MaxSim over the
    * vectors' SUB-vector decompositions (the PQ subspace split, m =
    * 8 dims × 8): score(q, n) = Σ_m max_p cos(q_m, n_p). The max lets
    * a query facet match its best-aligned candidate facet instead of
    * forcing one global alignment — the retrieval win of
    * multi-vector models, here demonstrated on the subspace split a
    * production system would replace with real per-token vectors.
    *
    * Scale shape: the expensive kernel (8×8 sub-cosines per pair)
    * runs on shortlist·Q rows only — the ANN stage bounds it, exactly
    * like the PQ rerank; probed-list candidate generation bounds the
    * ANN stage. Determinism: each sub-cosine is floored to an integer
    * (the micro-quantization contract), so the per-m max and the
    * final sum are exact integer ops — aggregation order can never
    * shift a rank — and the oracle replays every stage. Sub-dots use
    * the same left-to-right fold as graft_dot / list_dot_product. */
  def maxSimTopK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
                 nprobe: Int = 2, shortlist: Int = 50): DataFrame = {
    val vs = vectors(s, dir)
    val probes = nearestCentroids(
      vs.filter(col("vec_id") < nQueries), seedCentroids(vs), nprobe, "q")
    val scored = seedAssignment(s, dir)
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id").as("query_id"), col("n_id").as("neighbor_id"),
              (dot("q_v", "n_v") / (col("q_norm") * col("n_norm"))).as("cos"))
    val short = topK(scored, shortlist).select(col("query_id"), col("neighbor_id"))
    val subNorms =
      "transform(sequence(0, 7), m -> sqrt(graft_dot(slice(v, 8*m+1, 8), slice(v, 8*m+1, 8))))"
    val qside = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              expr(subNorms).as("snq"))
    val nside = vs
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
              expr(subNorms).as("snn"))
    val ranked = short
      .join(broadcast(qside), Seq("query_id"))
      .join(nside, Seq("neighbor_id"))
      .withColumn("ms", expr(
        """aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, m) -> acc +
          |  array_max(transform(sequence(0, 7), p ->
          |    CASE WHEN snq[m] = CAST(0.0 AS DOUBLE) OR snn[p] = CAST(0.0 AS DOUBLE)
          |         THEN CAST(0 AS BIGINT)
          |         ELSE CAST(FLOOR(graft_dot(slice(qv, 8*m+1, 8), slice(nv, 8*p+1, 8))
          |                         / (snq[m] * snn[p]) * 1000000.0) AS BIGINT) END)))"""
          .stripMargin))
      .select(col("query_id"), col("neighbor_id"), col("ms").cast("double").as("cos"))
    topK(ranked, k).withColumnRenamed("cos", "maxsim")
  }

  /** THE driver-side probe selection every indexed IVF serving path
    * shares (plain and PQ — one definition, because the tiebreak and
    * the literal-predicate construction are oracle contract): ranking
    * nQueries × nprobe probe assignments is a bounded micro-job (query
    * vectors × broadcast centroids) run ONCE — its collected rows
    * become BOTH the literal partition predicate on the index table
    * AND (as a local relation) the probe side of the search join, so
    * the serving path pays one probe computation, not two. The literal
    * predicate is static partition pruning the planner can never
    * decline (the AQE dynamic-pruning path degrades to
    * `dynamicpruningexpression(true)` when broadcast reuse fails to
    * canonicalize, silently scanning every list). IndexTablesSpec
    * asserts partitions read == probed lists on BOTH index tables. At
    * 10⁹ vectors and nlist=10⁵ this is the difference between scanning
    * nprobe inverted lists and scanning the corpus. */
  private def probeSelection(s: SparkSession, dir: String,
                             nQueries: Int, nprobe: Int): (DataFrame, Seq[Long]) = {
    val vs = vectors(s, dir)
    val probesPlan = nearestCentroids(
      vs.filter(col("vec_id") < nQueries), seedCentroids(vs), nprobe, "q")
    val probeRows = probesPlan.collect()
    val probes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    val lists = probeRows
      .map(r => r.getAs[Number](r.fieldIndex("list_id")).longValue())
      .distinct.sorted.toSeq
    (probes, lists)
  }

  /** Test seam: the distinct inverted lists the indexed search probes
    * for a given query set — what the partitioned-scan pruning must
    * reduce the table read to (IndexTablesSpec). The same probe
    * assignment as [[probeSelection]], so it predicts the REAL probed
    * set. */
  private[ops] def probedLists(s: SparkSession, dir: String,
                               nQueries: Int, nprobe: Int): Seq[Long] = {
    val vs = vectors(s, dir)
    nearestCentroids(vs.filter(col("vec_id") < nQueries), seedCentroids(vs), nprobe, "q")
      .select(col("list_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  /** nprobe search against an arbitrary centroid relation
    * ((cent_id, cv, cnorm), broadcast-small) and its matching
    * assignment relation. */
  private def ivfSearch(vs: DataFrame, cents: DataFrame, assigned: DataFrame,
                        nQueries: Int, k: Int, nprobe: Int): DataFrame =
    ivfSearchWithProbes(
      nearestCentroids(vs.filter(col("vec_id") < nQueries), cents, nprobe, "q"),
      assigned, k)

  /** The probe-side join itself, over an already-built probe relation
    * ((q_id, list_id, q_v, q_norm) — in-plan for the twins, a collected
    * local relation for the indexed serving path). The probe relation
    * is queries × nprobe rows — ALWAYS the small side; the assignment
    * relation is all N vectors. Broadcasting the probes pins that
    * shape (at test scale AQE otherwise broadcasts the tiny TABLE —
    * the opposite of the deployment plan, where the assignment side
    * streams partition-pruned off the index). */
  private def ivfSearchWithProbes(probes: DataFrame, assigned: DataFrame,
                                  k: Int): DataFrame =
    topK(assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id").as("query_id"), col("n_id").as("neighbor_id"),
              (dot("q_v", "n_v") / (col("q_norm") * col("n_norm"))).as("cos")), k)

  /** IVF over REFINED centroids — the full train → index → query
    * pipeline in one plan: deterministic seed set → one Lloyd update
    * ([[centroidUpdate]]'s micro-quantized means, reassembled into
    * centroid vectors) → assignment and nprobe search against the
    * refined lists. At scale this is exactly how an IVF index is built:
    * the training loop's per-iteration cost is one broadcast-assign pass
    * over N plus a fixed-size aggregate, and the refined centroid table
    * stays the ONLY broadcast relation. Quantized means keep every stage
    * exactly replayable by the oracle. */
  def ivfRefinedTopK(s: SparkSession, dir: String,
                     nQueries: Int = 8, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val vs = vectors(s, dir)
    val refined = assembleCentroids(centroidUpdate(s, dir), "list_id")
      .select(col("list_id").as("cent_id"), col("cv"), col("cnorm"))
    ivfSearch(vs, refined, nearestCentroids(vs, refined, 1, "n"), nQueries, k, nprobe)
  }

  /** IVF inverted-LIST balance report — the pre-flight an ANN
    * deployment runs before serving (the sibling of
    * [[graft.ops.Dedup.blockStats]] for the embedding index): per list,
    * how many vectors landed there, the mean assignment cosine (a
    * low-cohesion list means the quantizer doesn't fit that region),
    * and the load factor vs the uniform ideal N/nlist. A skewed list is
    * THE scale-killer of IVF search — every probe of a hot list scans
    * its full length, so Σ(load²) is the real per-query cost — and this
    * report prices it from one assignment pass plus an nlist-row
    * aggregate, before any search runs. Mean cosines go through
    * micro-quantized integer sums ([[labelCohesion]]'s determinism
    * contract); the total-count divisor rides the same constant-key
    * broadcast as every in-plan scalar. */
  def ivfCellStats(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val total = vs.agg(count(lit(1)).as("n_total")).withColumn("k", lit(1))
    seedAssignment(s, dir)
      .join(broadcast(seedCentroids(vs)), col("list_id") === col("cent_id"))
      .withColumn("cosq",
        floor(dot("cv", "n_v") / (col("cnorm") * col("n_norm")) * 1000000.0).cast("long"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vectors"),
           (floor(sum(col("cosq")).cast("double") / count(lit(1))) / 1000000.0)
             .as("mean_cos"))
      .withColumn("k", lit(1))
      .join(broadcast(total), Seq("k"))
      .withColumn("load_factor", Tables.trunc6(
        col("n_vectors").cast("double") * lit(IvfNList.toLong) / col("n_total")))
      .select(col("list_id"), col("n_vectors"), col("mean_cos"), col("load_factor"))
      .orderBy(col("list_id"))
  }

  /** Cluster-balanced subsample: keep at most `perCell` vectors per
    * semantic cell (IVF seed assignment), ranked by a deterministic
    * hash — the diversity-preserving downsampler a curation pipeline
    * runs when dominant clusters (boilerplate-heavy regions of
    * embedding space) would otherwise swamp a capped training mix.
    * Unlike [[graft.ops.Pipeline]]'s stratified sample (per SOURCE),
    * the stratum here is learned structure: the same coarse quantizer
    * the ANN index uses, so the op costs one already-memoized
    * assignment pass plus a per-cell window — partitioned by list_id,
    * never global, and the md5 rank makes the kept set stable across
    * runs and engines (the [[ivfTopK]] pool recipe). At 100 TB the
    * cell count grows with nlist and each window partition is one
    * inverted list, exactly the IVF serving layout. */
  def clusterBalancedSample(s: SparkSession, dir: String, perCell: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("list_id"))
      .orderBy(md5(col("n_id").cast("string")), col("n_id"))
    seedAssignment(s, dir)
      .select(col("list_id"), col("n_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCell)
      .select(col("list_id"), col("n_id").as("vec_id"), col("rk"))
      .orderBy(col("list_id"), col("rk"))
  }

  /** K-means centroid-update step — the shuffle pattern of distributed
    * Lloyd's: assign every vector to its nearest centroid (one streamed
    * pass over N with the tiny centroid table broadcast — at 100 TB
    * nlist is thousands, N billions, so this broadcast is the correct
    * one), then recompute each centroid dimension as the mean of its
    * members — a single groupBy(list_id, pos) with map-side partial
    * aggregation, 8×64 output rows regardless of N.
    *
    * Determinism: element values are quantized to micro-units
    * (floor(x·1e6) as BIGINT) BEFORE summation, so the aggregation is
    * exact integer arithmetic — order-independent on any engine — and
    * the mean is one final double division + floor. A raw double sum
    * would be summation-order-dependent and could never hash-match the
    * oracle (or itself, across partitionings). */
  /** Micro-quantized per-(key, dim) means over a (key, v) relation —
    * THE deterministic-mean block (floor(x·1e6) → integer sum →
    * floor-div), shared by every centroid computation so the oracle-
    * contract quantization scheme exists exactly once. */
  private def quantizedMeans(rel: DataFrame, key: String): DataFrame =
    rel.select(col(key), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col(key), col("pos").cast("long").as("pos"),
              floor(col("x") * 1000000.0).cast("long").as("xq"))
      .groupBy(col(key), col("pos"))
      .agg(count(lit(1)).as("n_members"), sum(col("xq")).as("sum_q"))
      .withColumn("mean", floor(col("sum_q").cast("double") / col("n_members")) / 1000000.0)

  /** Reassemble exploded (key, pos, mean) rows into centroid vectors
    * with norms — the other half of the shared centroid contract. */
  private def assembleCentroids(means: DataFrame, key: String): DataFrame =
    means.groupBy(col(key))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), x -> x.mean)").as("cv"))
      .withColumn("cnorm", expr("sqrt(graft_dot(cv, cv))"))

  def centroidUpdate(s: SparkSession, dir: String): DataFrame = {
    val assigned = seedAssignment(s, dir)
      .select(col("list_id"), col("n_v").as("v"))
    quantizedMeans(assigned, "list_id")
      .select(col("list_id"), col("pos"), col("n_members"), col("mean"))
      .orderBy(col("list_id"), col("pos"))
  }

  /** Per-label cluster cohesion — the embedding-quality report a
    * curation run ships next to its near-dup stats: each label's
    * centroid (micro-quantized means, same determinism contract as
    * [[centroidUpdate]]) and the distribution of member-to-centroid
    * cosines (mean via integer sums of micro-quantized cosines, min as
    * the worst member). Labels with low cohesion are mislabeled or
    * heterogeneous buckets. Two aggregates + one broadcast join; the
    * centroid relation is #labels rows regardless of N. */
  def labelCohesion(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val cents = assembleCentroids(
      quantizedMeans(vs.select(col("label"), col("v")), "label"), "label")
    vs.join(broadcast(cents), Seq("label"))
      .withColumn("cosq",
        floor(dot("cv", "v") / (col("cnorm") * col("norm")) * 1000000.0).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           (floor(sum(col("cosq")).cast("double") / count(lit(1))) / 1000000.0).as("mean_cos"),
           (min(col("cosq")).cast("double") / 1000000.0).as("min_cos"))
      .orderBy(col("label"))
  }

  /** Per-label embedding OUTLIERS — the k members FURTHEST from their
    * label centroid (lowest cosine), the actionable companion to
    * [[labelCohesion]]'s distribution: cohesion says label 7 is messy,
    * this says which vectors to audit (mislabeled rows, encoder
    * failures, genuine hard cases — the triage list an embedding-QA
    * pass ships). Same centroid + micro-quantized cosine contract as
    * cohesion, then the bounded [[graft.functions.TopKPairs]] aggregate
    * on the NEGATED quantized cosine keeps the k worst per label —
    * map-side combining, ≤k rows per label cross the shuffle, never a
    * per-label sort of all members. Ranking is exact integer compare
    * (cosq ASC, vec_id ASC tiebreak via payload order). */
  def labelOutliers(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.functions.TopKPairs.register(s)
    val vs = vectors(s, dir)
    val cents = assembleCentroids(
      quantizedMeans(vs.select(col("label"), col("v")), "label"), "label")
    vs.join(broadcast(cents), Seq("label"))
      .withColumn("cosq",
        floor(dot("cv", "v") / (col("cnorm") * col("norm")) * 1000000.0).cast("long"))
      .groupBy(col("label"))
      .agg(expr(s"graft_topk(-cosq, vec_id, $k)").as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("label"), col("e.payload").as("vec_id"),
              (col("pos") + 1).cast("long").as("rk"),
              ((-col("e.score")).cast("double") / 1000000.0).as("cos"))
      .orderBy(col("label"), col("rk"))
  }

  /** Product-quantization ANN (ADC scan) — the compression path a
    * 100 TB vector store actually ships: each 64-dim float vector is
    * encoded as 8 one-byte codes (one per 8-dim subspace, nearest of 4
    * codewords by L2, via the dot identity argmin‖x−c‖² =
    * argmax(x·c − ‖c‖²/2)), and queries score candidates by summing 8
    * lookup-table entries instead of a 64-float dot — a 32× memory cut
    * on the scan side. Codewords come from the deterministic seed
    * vectors 100..103 (no RNG, oracle-replayable), like IVF's seeds.
    *
    * Two stages, because coarse PQ scores are a SHORTLIST device, not a
    * ranking: the ADC scan keeps the top `shortlist` candidates per
    * query (measured: direct ADC top-5 finds only ~8% of the true top-5
    * on this clusterless corpus, while a 100-deep shortlist holds ~65% —
    * so ranking directly by ADC would be a vacuous operator), then the
    * exact-cosine RERANK touches only the shortlist — the standard
    * scan-compressed/rerank-exact split, with the expensive float dot
    * running on `shortlist` rows per query instead of N.
    *
    * Determinism contract: per-subspace LUT partials are micro-quantized
    * (floor(dot·1e6) as BIGINT) BEFORE the 8-way sum, so scoring is
    * exact integer arithmetic — order-independent on any engine; a raw
    * double sum of partials could never hash-match. Scale shape: codes
    * are one row_number over a broadcast-codebook join (at 100 TB this
    * becomes mapPartitions-with-broadcast, same semantics); the ADC scan
    * is codes ⋈ broadcast(LUT) + one integer aggregation — no N×N work
    * anywhere. */
  def pqTopK(s: SparkSession, dir: String,
             nQueries: Int = 8, k: Int = 5, shortlist: Int = 100): DataFrame = {
    val vs = vectors(s, dir)
    val subs = pqSubvectors(vs)
    val cw = pqCodebook(subs)
    val cands = pqEncode(subs, cw).join(broadcast(pqLut(subs, cw, nQueries)), Seq("m", "code_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pq")).as("iscore"))
    pqRerank(vs,
      pqShortlist(cands, shortlist),
      nQueries, k)
  }

  /** PQ parameters: 64-dim vectors → `PqM` subspaces of `PqSubDim`
    * dims, `PqNCodes` codewords per subspace from the deterministic
    * seed vectors 100..100+PqNCodes (oracle contract — the SQL oracles
    * hardcode all three and say so). */
  private[ops] val PqM = 8
  private val PqSubDim = 8
  private val PqNCodes = 4

  /** Exploded per-subspace view: (vec_id, m, sv) — one row per vector
    * per subspace, computed at scan rate (no shuffle). */
  private def pqSubvectors(vs: DataFrame): DataFrame =
    vs.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> struct(m AS m, slice(v, m * $PqSubDim + 1, $PqSubDim) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))

  /** The per-subspace codebook (m, code_id, cw, cn2) — PqM·PqNCodes
    * rows, always the broadcast side. */
  private def pqCodebook(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") >= 100 && col("vec_id") < 100 + PqNCodes)
      .select(col("m"), (col("vec_id") - 100).as("code_id"), col("sv").as("cw"))
      .withColumn("cn2", expr("graft_dot(cw, cw)"))

  /** Nearest-codeword encoding (vec_id, m, code_id): argmin‖x−c‖² via
    * the dot identity, (score DESC, code_id ASC) tiebreak. A
    * map-side-combining max_by per (vector, subspace) — this is the
    * CORPUS-sized stage of PQ encoding, and a row_number window here
    * would shuffle and sort all N·PqNCodes scored rows to keep one
    * ([[nearestCentroids]]' keep=1 rationale; max_by over
    * (score, -code_id) reproduces the tiebreak exactly). */
  private def pqEncode(subs: DataFrame, cw: DataFrame): DataFrame =
    subs.join(broadcast(cw), Seq("m"))
      .withColumn("score", dot("sv", "cw") - col("cn2") / 2)
      .groupBy(col("vec_id"), col("m"))
      .agg(expr("max_by(code_id, named_struct('s', score, 't', -code_id))").as("code_id"))

  /** Query-side asymmetric-distance lookup table (query_id, m, code_id,
    * pq): micro-quantized integer partials (floor(dot·1e6) as BIGINT)
    * so the PqM-way ADC sum is exact integer arithmetic —
    * order-independent on any engine (determinism contract shared with
    * every mean/cosine report). nQueries·PqM·PqNCodes rows — broadcast. */
  private def pqLut(subs: DataFrame, cw: DataFrame, nQueries: Int): DataFrame =
    subs.filter(col("vec_id") < nQueries)
      .join(broadcast(cw), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("code_id"),
              floor(dot("sv", "cw") * 1000000.0).cast("long").as("pq"))

  /** Shortlist selection from ADC-scored candidates (query_id,
    * neighbor_id, iscore): per-query best `shortlist` by (iscore DESC,
    * neighbor_id ASC) through the bounded [[graft.functions.TopKPairs]]
    * aggregate — map-side combine ships ≤ shortlist pairs per query
    * into the shuffle instead of windowing the full candidate set (the
    * integer score is orderable as-is; the oracle replays the ranking
    * as a row_number window). */
  private def pqShortlist(cands: DataFrame, shortlist: Int): DataFrame = {
    graft.functions.TopKPairs.register(cands.sparkSession)
    cands
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(iscore, neighbor_id, $shortlist)").as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.payload").as("neighbor_id"))
  }

  /** Exact-cosine rerank of a (query_id, neighbor_id) shortlist →
    * [[topK]]. The shortlist (≤ shortlist·Q rows, with query vectors
    * attached) is the BROADCAST side; the neighbor-vector relation
    * (the base corpus by default, a pruned index slice for IVF-PQ)
    * streams through one broadcast-hash join that surfaces only
    * shortlist members — at scale the expensive float dot runs on
    * shortlist·Q rows, never N. */
  private def pqRerank(vs: DataFrame, short: DataFrame,
                       nQueries: Int, k: Int,
                       nvOverride: DataFrame = null): DataFrame = {
    val qv = vs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val nv = Option(nvOverride).getOrElse(
      vs.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("norm").as("nnorm")))
    topK(nv.join(broadcast(short.join(broadcast(qv), Seq("query_id"))), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              (dot("qv", "nv") / (col("qnorm") * col("nnorm"))).as("cos")), k)
  }

  /** The PERSISTED IVF-PQ index payload: every vector's PQ codes keyed
    * by its inverted list — (n_id, list_id, m, code_id), the
    * list-partitioned code layout an IVFPQ deployment stores (codes
    * contiguous per inverted list). Encode + assignment both run once
    * at index-build time ([[IndexTables.ensurePqIndex]]). */
  private[ops] def pqCodesWithLists(s: SparkSession, dir: String): DataFrame = {
    val subs = pqSubvectors(vectors(s, dir))
    pqEncode(subs, pqCodebook(subs))
      .join(seedAssignment(s, dir).select(col("n_id"), col("list_id")),
            col("vec_id") === col("n_id"))
      .select(col("n_id"), col("list_id"), col("m"), col("code_id"))
  }

  /** IVF-PQ with exact refine — the composition a 100 TB ANN service
    * actually serves (the FAISS `IVFPQ + refine` shape): the coarse
    * quantizer prunes the scan to `nprobe` inverted lists, the PQ codes
    * of JUST those lists are ADC-scored with integer lookup tables, and
    * only the per-query shortlist pays the exact float cosine. Each
    * stage bounds the next: N → probed lists (partition pruning on the
    * persisted code table — the same driver-side probe micro-job as
    * [[ivfTopKIndexed]], whose literal predicate the planner can never
    * decline) → shortlist·Q (bounded map-side top-k on integer ADC
    * sums) → k·Q. vs [[pqTopK]]: the ADC scan touches nprobe/nlist of
    * the codes instead of all N. vs [[ivfTopKIndexed]]: in-list scoring
    * reads 8 one-byte codes per vector instead of 64 floats — the 32×
    * scan-side memory cut — and the float dot runs on shortlist rows
    * only. Deterministic end-to-end (seed quantizer, seed codebook,
    * integer ADC), so the DuckDB oracle replays every stage. */
  def ivfPqTopK(s: SparkSession, dir: String,
                nQueries: Int = 8, k: Int = 5, nprobe: Int = 2,
                shortlist: Int = 100): DataFrame = {
    val vs = vectors(s, dir)
    val (probes, lists) = probeSelection(s, dir, nQueries, nprobe)
    val codes = s.table(IndexTables.ensurePqIndex(s, dir))
      .filter(col("list_id").isin(lists: _*))
      .select(col("n_id"), col("list_id"), col("m"), col("code_id"))
    val subs = pqSubvectors(vs)
    val lut = pqLut(subs, pqCodebook(subs), nQueries)
    val cands = codes
      .join(broadcast(probes.select(col("q_id").as("query_id"), col("list_id"))), Seq("list_id"))
      .filter(col("n_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code_id"))
      .groupBy(col("query_id"), col("n_id").as("neighbor_id"))
      .agg(sum(col("pq")).as("iscore"))
    // Rerank vectors come from the persisted IVF index, pruned to the
    // same probed lists (shortlist members can only live there): the
    // same n_v/n_norm values as the base relation (the assignment
    // carries the vector), read from a partition-pruned scan instead
    // of a corpus-wide one.
    val nv = s.table(IndexTables.ensureIvfIndex(s, dir))
      .filter(col("list_id").isin(lists: _*))
      .select(col("n_id").as("neighbor_id"), col("n_v").as("nv"), col("n_norm").as("nnorm"))
    pqRerank(vs, pqShortlist(cands, shortlist), nQueries, k, nv)
  }

  /** Inter-label centroid separation — the counterpart report to
    * [[labelCohesion]]: pairwise cosine between label centroids. High
    * cohesion + low separation means two labels are really one cluster
    * (merge candidates for a taxonomy cleanup); the pair matrix is
    * #labels² rows regardless of N, so the pairwise join runs on a
    * broadcast-tiny relation (an intended nested-loop over ~10 rows)
    * while the only N-sized work is the same micro-quantized mean
    * aggregation the cohesion report shares. */
  def labelSeparation(s: SparkSession, dir: String): DataFrame = {
    val cents = assembleCentroids(
      quantizedMeans(vectors(s, dir).select(col("label"), col("v")), "label"), "label")
    val a = cents.select(col("label").as("label_a"), col("cv").as("ca"), col("cnorm").as("na"))
    val b = cents.select(col("label").as("label_b"), col("cv").as("cb"), col("cnorm").as("nb"))
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("cos", dot("ca", "cb") / (col("na") * col("nb")))
      .select(col("label_a"), col("label_b"), trunc6(col("cos")).as("cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Per-SOURCE embedding drift — the data-drift monitor a pipeline
    * runs per ingest batch: each source's centroid (micro-quantized
    * means, the shared determinism contract) compared by cosine against
    * the CORPUS centroid; a source whose cos_global sinks is shifting
    * distribution relative to the mixture (new crawl seed, encoder
    * regression, feed hijack) and gets quarantined before training.
    * Also the one report tying `embeddings` to `documents`
    * (vec_id = doc_id): the join is a doc-keyed hash join, the two
    * centroid aggregates are map-side combined and dimension-bounded,
    * and the 1-row corpus centroid rides the usual constant-key
    * broadcast. */
  def sourceCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val rel = vectors(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"), col("v"))
    val scents = assembleCentroids(quantizedMeans(rel, "source"), "source")
    val global = assembleCentroids(
      quantizedMeans(rel.withColumn("g", lit(1L)).select(col("g"), col("v")), "g"), "g")
      .select(col("cv").as("gv"), col("cnorm").as("gnorm"))
    val counts = rel.groupBy(col("source")).agg(count(lit(1)).as("n_vecs"))
    scents.join(counts, Seq("source"))
      .join(broadcast(global))
      .withColumn("cos_global",
        trunc6(dot("cv", "gv") / (col("cnorm") * col("gnorm"))))
      .select(col("source"), col("n_vecs"), col("cos_global"))
      .orderBy(col("source"))
  }

  /** Embedding-space label confusion — the classification-eval report:
    * every vector is assigned to its NEAREST label centroid (the same
    * micro-quantized centroids the cohesion report builds, broadcast —
    * #labels rows regardless of N) and tallied against its true label.
    * Off-diagonal mass = labels whose members sit closer to another
    * label's centroid — the labeling-quality signal a curation run reads
    * before trusting label-blocked dedup or stratified sampling. One
    * broadcast assignment pass over N + one map-side-combined count. */
  def labelConfusion(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val cents = assembleCentroids(
      quantizedMeans(vs.select(col("label"), col("v")), "label"), "label")
      .select(col("label").as("cent_id"), col("cv"), col("cnorm"))
    val assigned = nearestCentroids(vs, cents, 1, "n")
    vs.select(col("vec_id").as("n_id"), col("label"))
      .join(assigned.select(col("n_id"), col("list_id")), Seq("n_id"))
      .groupBy(col("label").as("label_true"), col("list_id").as("label_pred"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("label_true"), col("label_pred"))
  }

  /** 4-bit sign key of dims [4i, 4i+3] — one LSH band. */
  private def bandKey(i: Int): Column = expr(
    s"CAST(CASE WHEN v[${4 * i}] > 0 THEN 8 ELSE 0 END + CASE WHEN v[${4 * i + 1}] > 0 THEN 4 ELSE 0 END + " +
    s"CASE WHEN v[${4 * i + 2}] > 0 THEN 2 ELSE 0 END + CASE WHEN v[${4 * i + 3}] > 0 THEN 1 ELSE 0 END AS BIGINT)")

  /** Embedding near-dup pairs: vectors with cosine ≥ 0.4 (the corpus
    * max is ~0.51 — 0.8-style thresholds would be vacuous), candidates
    * from BANDED sign-LSH blocking: 16 bands × 4 sign bits covering all
    * 64 dims, a pair is a candidate when ANY band key matches within the
    * same label (the MinHash-LSH OR-of-ANDs shape). A single 4-bit block
    * key was empirically vacuous — at cos≈0.4-0.5 the sign
    * agreement per dim is only ~0.63, so requiring 4 specific leading
    * bits to all match finds almost nothing; 16 independent chances of a
    * 4-bit match gives measured recall 1.0 at sf0.01 and 0.93 at sf0.1
    * while still pruning ~36% of same-label pairs (this corpus sits near
    * LSH's worst case: recall→1 cheaply only as the threshold rises
    * toward real near-dup territory, cos ≥ 0.8, where fewer/wider bands
    * prune far harder). The candidate join is a hash-partitioned
    * equi-join on (label, band, key) — never an all-pairs per label —
    * and verification touches candidates only. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val bands = vs.select(col("vec_id"), col("label"), explode(array(
        (0 until 16).map(i => struct(lit(i).as("bi"), bandKey(i).as("bk"))): _*)).as("b"))
      .select(col("vec_id"), col("label"), col("b.bi").as("bi"), col("b.bk").as("bk"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.label") === col("b.label") && col("a.bi") === col("b.bi") &&
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
              col("a.label").as("label"))
      .distinct()
    val x = vs.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val y = vs.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    cand.join(x, Seq("vec_a")).join(y, Seq("vec_b"))
      .withColumn("cos", dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("label"), trunc6(col("cos")).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** SEMANTIC dedup over embeddings — the SemDeDup recipe (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): cluster by the shared IVF coarse
    * quantizer, call within-cluster pairs with cosine ≥ `tau` semantic
    * duplicates, close them transitively (the same large-star/small-star
    * [[Dedup.connectedComponents]] the text dedup family runs), and
    * keep ONE member per group — the member FARTHEST from its cluster
    * centroid (lowest centroid cosine), SemDeDup's diversity-preserving
    * choice (the most typical member is the most redundant with the
    * rest of the cluster).
    *
    * Scale contract: the pair join is within-list all-pairs — Σ|list|²,
    * exactly SemDeDup's own cost model — so `nlist` is the knob that
    * bounds cluster size as the corpus grows (at 100 TB the quantizer
    * is trained with nlist in the tens of thousands and the join stays
    * a hash-partitioned equi-join on list_id; a skew-capped variant is
    * [[knnGraph]]'s candidate pool). Keeper ordering uses micro-unit
    * integer centroid cosines so both engines rank identically. */
  /** Memoized SemDeDup cluster assignment (component over within-list
    * pairs at cosine ≥ tau) — the semantic-duplicate GROUP relation, a
    * materialized artifact like the text-side cluster assignments. */
  private[ops] def semanticComponents(s: SparkSession, dir: String, tau: Double): DataFrame =
    Tables.memoized(s"semanticComponents-$tau", s, dir) {
      val assigned = seedAssignment(s, dir)
      val a = assigned.select(col("list_id"), col("n_id").as("vec_a"),
                              col("n_v").as("va"), col("n_norm").as("na"))
      val b = assigned.select(col("list_id"), col("n_id").as("vec_b"),
                              col("n_v").as("vb"), col("n_norm").as("nb"))
      val pairs = a.join(b, Seq("list_id"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(dot("va", "vb") / (col("na") * col("nb")) >= tau)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.connectedComponents(pairs)
    }

  def semanticDedup(s: SparkSession, dir: String, tau: Double = 0.4): DataFrame =
    semanticDedupOver(s, dir, semanticComponents(s, dir, tau))

  /** [[semanticDedup]] reading the PERSISTED component table
    * ([[IndexTables.ensureSemanticComponents]]) — the last
    * memoized-only cluster relation given its durable index-table
    * form: a SemDeDup deployment materializes the component
    * assignment once per corpus version and every keeper
    * election/report reads the table. Identical rows BY the shared
    * rollup body; shares `dedup_semantic`'s oracle text (the
    * twin-alias contract). */
  def semanticDedupIndexed(s: SparkSession, dir: String, tau: Double = 0.4): DataFrame =
    semanticDedupOver(s, dir,
      s.table(IndexTables.ensureSemanticComponents(s, dir, tau)))

  /** THE keeper-election rollup over an explicit (doc_id, comp_id)
    * component relation — one definition for the memoized and
    * persisted-table forms. */
  private def semanticDedupOver(s: SparkSession, dir: String,
                                comps: DataFrame): DataFrame = {
    val vs = vectors(s, dir)
    val cents = seedCentroids(vs)
    val assigned = seedAssignment(s, dir)
    val centCos = assigned.join(broadcast(cents), col("list_id") === col("cent_id"))
      .select(col("n_id").as("doc_id"),
        floor(dot("n_v", "cv") / (col("n_norm") * col("cnorm")) * 1e6)
          .cast("long").as("ccos_u"))
    comps
      .join(centCos, Seq("doc_id"))
      .groupBy(col("comp_id").as("group_id"))
      .agg(count(lit(1)).as("n_members"),
           expr("min_by(doc_id, struct(ccos_u, doc_id))").as("keep_id"),
           (min(col("ccos_u")).cast("double") / 1e6).as("keep_ccos"))
      .select(col("group_id"), col("keep_id"), col("n_members"), col("keep_ccos"))
      .orderBy(col("group_id"))
  }

  /** Approximate symmetric k-NN graph — the corpus-wide neighbor
    * structure semantic-dedup clustering and graph-based diversity
    * sampling consume (per-QUERY top-k answers point lookups; the GRAPH
    * needs k neighbors for EVERY node). Candidates are same-IVF-list
    * pairs (the deterministic seed centroids every IVF op here shares),
    * with the NEIGHBOR side capped to a fixed per-list candidate POOL:
    * the `poolPerList` members with the smallest md5(vec_id) — a
    * deterministic hash sample the oracle replays. Every node scores
    * against ≤ poolPerList candidates, so the pair work is Σ|list|·L —
    * LINEAR in corpus size — where the uncapped member×member join was
    * Σ|list|², a quadratic exposure whenever the coarse quantizer skews
    * (with 8 seed lists, one hot list approaches n²/8). The pool is the
    * recall knob: raise it (and nlist) at corpus scale; neighbors are
    * found only inside the pool, which is the same
    * approximation-by-sampling contract the cos-histogram op uses.
    * Per-node ranking is the bounded [[topK]] aggregate: ≤k edges per
    * node cross the final shuffle. */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3,
               poolPerList: Int = 48): DataFrame = {
    val vs = vectors(s, dir)
    val assigned = seedAssignment(s, dir)
    // per-list window: the sort is bounded by list size, the same bound
    // the quantizer already imposes on every IVF op here
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("list_id"))
      .orderBy(md5(col("vec_b").cast("string")), col("vec_b"))
    val pool = assigned
      .select(col("list_id"), col("n_id").as("vec_b"),
              col("n_v").as("vb"), col("n_norm").as("nb"))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= poolPerList).drop("prk")
    val members = assigned.select(col("list_id"), col("n_id").as("vec_a"),
                                  col("n_v").as("va"), col("n_norm").as("na"))
    val scored = members.join(pool, Seq("list_id"))
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"),
              (dot("va", "vb") / (col("na") * col("nb"))).as("cos"))
    topK(scored, k).withColumnRenamed("query_id", "vec_id")
  }

  /** THE shared integer MOMENT relation behind every second-moment
    * consumer ([[covariance]], [[pcaPower]] → emb_pca / emb_top_dir):
    * one scan-rate pass emits, PER ROW, the d(d+1)/2 upper-triangle
    * pair products plus the d linear terms of the micro-quantized
    * vector (array expressions over the embedding column — no explode
    * of a 64N relation through a join), and a map-side-combining
    * aggregate folds them into d(d+3)/2 groups (2,144 for d=64). The
    * only rows ANY Exchange carries are the partially-aggregated
    * groups — ≤ 2,144 per upstream partition, corpus-size-independent
    * — where a vec_id self-join would shuffle+sort the exploded
    * 64N-row relation.
    * Rows: (i, j, sxy DECIMAL(38,0), n), with j = -1 encoding the
    * linear sums Σxqᵢ; n is the vector count (identical per group).
    * Memoized once per (session, dir): emb_covariance, emb_pca and
    * emb_top_dir all read the same 2,144-row checkpoint, so the pair
    * pass over N is paid once, not three times. */
  private[ops] def moments(s: SparkSession, dir: String): DataFrame =
    Tables.memoized("moments", s, dir)(momentsPlan(s, dir))

  /** The un-memoized moment build — separated so SimilaritySpec can
    * audit the PHYSICAL plan that actually runs at checkpoint time:
    * zero joins, and the one Exchange carries only the map-side
    * partially-aggregated groups, never the exploded 64N-row relation. */
  private[ops] def momentsPlan(s: SparkSession, dir: String): DataFrame =
    momentsPlanOf(vectors(s, dir))

  /** [[momentsPlan]] over an arbitrary slice of the vector relation —
    * the seam incremental maintenance needs: moments are ADDITIVE in
    * exact integer arithmetic (Σ over a disjoint union = the sum of
    * the slices' Σs, and DECIMAL(38,0) sums are order-independent), so
    * slice moments combine into corpus moments by a 2,144-row add —
    * see [[covarianceIncremental]]. */
  private def momentsPlanOf(vs: DataFrame): DataFrame =
    vs
      .select(expr("transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT))").as("xq"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(xq) - 1), i ->
          |  concat(
          |    array(named_struct('i', CAST(i AS BIGINT), 'j', CAST(-1 AS BIGINT), 'p', xq[i])),
          |    transform(sequence(i, size(xq) - 1), j ->
          |      named_struct('i', CAST(i AS BIGINT), 'j', CAST(j AS BIGINT), 'p', xq[i] * xq[j])))))"""
          .stripMargin)).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p").cast("decimal(38,0)")).as("sxy"), count(lit(1)).as("n"))

  /** Top-k dimension-pair COVARIANCES — the embedding-space diagnostics
    * behind whitening/PCA decisions: strongly covarying dimension pairs
    * mean the encoder wastes capacity (dimensions are redundant) and
    * cosine distances are dominated by a few directions. Determinism
    * contract: covariance is assembled from INTEGER sums of
    * micro-quantized values (Σxqᵢxqⱼ, Σxqᵢ — order-independent exact
    * sums held as DECIMAL(38,0) in the shared [[moments]] relation),
    * with one identical IEEE expression at the end on both engines.
    * Scale shape: everything downstream of the moment aggregate is
    * O(d²) = 2016 rows for d=64 — INDEPENDENT of corpus size — ranked
    * by the bounded `graft_topk` aggregate (map-side k-pair buffers;
    * no single-partition window even at d=4096's 8.4M pairs); the only
    * N-proportional work is the shared moment pass, a map-side
    * projection into a 2,144-group aggregate with no join. */
  def covariance(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // k <= 0 = "report disabled": the retired window form returned
    // empty rows for it, and graft_topk rejects non-positive k at
    // analysis time — keep the old contract instead of crashing. The
    // guard runs BEFORE the moment relation: its memoized build is an
    // EAGER corpus scan + checkpoint, and a disabled report must cost
    // nothing
    if (k <= 0)
      return s.createDataFrame(Seq.empty[(Long, Long, Double, Long)])
        .toDF("i", "j", "cov", "rk")
    covarianceFrom(s, moments(s, dir), k)
  }

  /** The covariance finisher over an arbitrary moment relation
    * ((i, j, sxy, n) — the memoized corpus build for [[covariance]],
    * an incrementally-combined one for [[covarianceIncremental]]).
    * Everything here is O(d²), corpus-size-independent. */
  private def covarianceFrom(s: SparkSession, m: DataFrame, k: Int): DataFrame = {
    val sums = m.filter(col("j") === -1).select(col("i"), col("sxy").as("sx"))
    val pairs = m.filter(col("j") >= 0 && col("i") < col("j"))
    val cov = pairs
      .join(sums.select(col("i"), col("sx").as("sxi")), Seq("i"))
      .join(sums.select(col("i").as("j"), col("sx").as("sxj")), Seq("j"))
      .withColumn("cov",
        (col("sxy").cast("double") / col("n")
          - (col("sxi").cast("double") / col("n")) * (col("sxj").cast("double") / col("n")))
        / 1000000000000.0)
    // Global top-k via the in-house bounded aggregate instead of a
    // single-partition row_number window (no unpartitioned WindowExec
    // anywhere in the engine): partial k-pair buffers
    // combine map-side, so even at d=4096 (8.4M pair rows) only ≤k
    // pairs per partition cross to the one finisher task — the window
    // form shuffled and SORTED the whole pair relation through it.
    // Ordering is identical: graft_topk ranks (score DESC, payload
    // ASC) and the payload struct leads with (i, j), so equal |cov|
    // ties break exactly like the oracle's (abs(cov) DESC, i, j).
    graft.functions.TopKPairs.register(s)
    cov
      .groupBy()
      .agg(expr(s"graft_topk(abs(cov), struct(i, j, cov), $k)").as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("e.payload.i").as("i"), col("e.payload.j").as("j"),
              col("e.payload.cov").as("cov"),
              (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("rk"))
  }

  /** INCREMENTALLY-MAINTAINED covariance — the 100-TB answer to "the
    * corpus grew; do we rescan everything to refresh the moment
    * stack?" (covariance, PCA, top-direction, ABTT, whitening all read
    * [[moments]]). No: moments are ADDITIVE — exact integer sums over
    * a disjoint union equal the sum of the slices' sums — so a
    * deployment stores the 2,144-row moment relation per corpus
    * version and each ingest batch contributes ONE scan of the batch,
    * combined by a d(d+3)/2-row add. This query executes that
    * maintenance shape end-to-end: it splits the corpus at a
    * deterministic cut (the "prior corpus" = the first ~4/5 of
    * vec_ids; the rest is "the batch"), builds each slice's moments
    * independently, combines them, and runs the covariance finisher on
    * the COMBINED relation. The declared oracle is emb_covariance's
    * full-corpus SQL — equality is the additivity proof, replayed on
    * every CORRECTNESS run: any overlap, gap, or non-additive term in
    * the combine breaks the hash. (The base-slice scan here exists so
    * the oracle can see the whole derivation; a deployment reads the
    * stored base moments and pays only the batch scan.) */
  def covarianceIncremental(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    if (k <= 0)
      return s.createDataFrame(Seq.empty[(Long, Long, Double, Long)])
        .toDF("i", "j", "cov", "rk")
    val vs = vectors(s, dir)
    // deterministic cut: a bounded 1-row micro-job (the same driver
    // pattern as the IVF probe selection); truncating division on
    // non-negative ids
    val maxId = vs.agg(max(col("vec_id"))).head().getLong(0)
    val thr = maxId * 4L / 5L
    // the base slice's moments are MEMOIZED — in a deployment they are
    // the stored per-version relation, so a maintenance tick pays the
    // batch scan only; the memo is the single-JVM stand-in for that
    // stored table (2,144 rows, checkpointed once per session/dir)
    val baseMoments = Tables.memoized(s"momentsBase$thr", s, dir)(
      momentsPlanOf(vs.filter(col("vec_id") <= thr)))
    // covarianceFrom references its moment input three times (pair
    // slice + both marginal joins) — materialize the 2,144-row combined
    // relation once so the DELTA slice's moment explode (the only
    // N-proportional leg) runs once, not three times
    val combined = baseMoments
      .unionByName(momentsPlanOf(vs.filter(col("vec_id") > thr)))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("sxy")).as("sxy"), sum(col("n")).as("n"))
      .localCheckpoint()
    covarianceFrom(s, combined, k)
  }

  /** Top principal component by power iteration — the spectral
    * diagnostic an embedding pipeline runs before dominant-direction
    * removal (the "all-but-the-top" post-processing recipe) or as the
    * first step of a PCA whitening/compression pass: the dominant
    * eigenvector of the covariance matrix plus its explained-variance
    * share (how anisotropic the space is — a high share means one
    * direction carries most of the energy and cosine similarities are
    * inflated by it).
    *
    * Scale split, exactly like [[covariance]] + the BPE trainer: the
    * ONLY N-proportional work is the SHARED [[moments]] pass (one
    * map-side-combining aggregate into 2,144 groups for d=64 —
    * corpus-size-independent output, memoized so emb_covariance /
    * emb_pca / emb_top_dir pay it once); the 64×64 eigen-iteration is
    * driver-side METADATA work on the collected matrix, the same
    * bounded-micro-job pattern as the IVF probe selection and BPE's
    * 1-row argmax.
    *
    * Determinism contract (what makes this oracle-replayable when
    * iterative float linear algebra never is): every stage is EXACT
    * integer arithmetic — inputs micro-quantized (floor(x·1e6)), the
    * scaled covariance kept as n·Σxy − ΣxΣy (no division), matvecs as
    * integer sums, and normalization per iteration by L∞: v′ =
    * sign(w)·(|w|·1e6 div max|w|) — truncating division on
    * NON-NEGATIVE operands, where floor and truncate agree on both
    * engines. Convergence is NOT part of the contract: both engines
    * replay the same `iters` steps from the same all-ones start, so
    * the output is identical whether or not the iteration has
    * converged (the eigengap only affects quality, never equality).
    * Driver arithmetic is BigInt (unbounded); the SQL oracle rides
    * DuckDB HUGEINT, whose 1.7e38 bound comfortably holds the
    * magnitude envelope at test scale (|xq| ≤ 6e5, N ≤ 2e3 →
    * |C| ≤ 1.3e18, |w| ≤ 8.5e25, Rayleigh numerator ≤ 5.4e33). */
  def pcaPower(s: SparkSession, dir: String, iters: Int = 10): DataFrame = {
    import s.implicits._
    val d = 64
    // ONE bounded collect of the shared checkpointed moment relation
    // (≤ d(d+3)/2 = 2,144 rows for d=64 — corpus-size-independent):
    // the j = -1 rows are the linear sums Σxqᵢ, the j ≥ 0 rows the
    // upper-triangle pair sums Σxqᵢxqⱼ (diagonal included)
    val mrows = moments(s, dir).collect()
    val stats = mrows.filter(_.getLong(1) == -1L)
      .map(r => (r.getLong(0).toInt,
                 (BigInt(r.getDecimal(2).toBigInteger), r.getLong(3))))
      .toMap
    // empty corpus: the oracle's CTE chain yields zero rows — match it
    // (stats(0) would otherwise throw; the degenerate all-zero-C case
    // is handled below by the mx/den/trace guards, mirrored in SQL)
    if (stats.isEmpty)
      return Seq.empty[(Long, Double, Double)].toDF("i", "pc", "ev_share")
    val n = BigInt(stats(0)._2)
    val c = Array.ofDim[BigInt](d, d)
    mrows.filter(_.getLong(1) >= 0L).foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val sxy = BigInt(r.getDecimal(2).toBigInteger)
      val cij = n * sxy - stats(i)._1 * stats(j)._1
      c(i)(j) = cij; c(j)(i) = cij
    }
    // L∞-normalized power iteration, all-ones start, exact integers
    val scale = BigInt(1000000)
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(i => (0 until d).foldLeft(BigInt(0))((acc, j) => acc + c(i)(j) * v(j)))
    def renorm(w: Array[BigInt]): Array[BigInt] = {
      val mx = w.map(_.abs).max
      if (mx == 0) w else w.map(x => (x.sign: BigInt) * (x.abs * scale / mx))
    }
    var v = Array.fill(d)(scale)
    (0 until iters).foreach(_ => v = renorm(matvec(v)))
    // Rayleigh quotient in C's units → explained share of the trace
    val w = matvec(v)
    val num = (0 until d).foldLeft(BigInt(0))((acc, i) => acc + v(i) * w(i))
    val den = (0 until d).foldLeft(BigInt(0))((acc, i) => acc + v(i) * v(i))
    val trace = (0 until d).foldLeft(BigInt(0))((acc, i) => acc + c(i)(i))
    val ppm = if (den == 0 || trace == 0) BigInt(0) else (num / den) * scale / trace
    val share = ppm.toDouble / 1000000.0
    (0 until d).map(i => (i.toLong, v(i).toDouble / 1000000.0, share))
      .toDF("i", "pc", "ev_share")
      .orderBy(col("i"))
  }

  /** TOP-K principal directions by power iteration + Hotelling
    * deflation — [[pcaPower]] extended past the dominant component:
    * after extracting direction t, the covariance is deflated
    * (C ← C − λ·v vᵀ/(vᵀv), with λ = vᵀCv/vᵀv) and the iteration
    * reruns, so component t+1 emerges from the residual spectrum. One
    * row per (comp, dimension) plus each component's explained-variance
    * share of the ORIGINAL trace; comp 1 is bit-identical to
    * [[pcaPower]]'s output (same iteration, same share formula).
    *
    * Determinism contract extends [[pcaPower]]'s: the deflation's two
    * divisions (λ = num div den; the rank-one update's elementwise
    * div by den) are TRUNCATING divisions mirrored sign-split in the
    * oracle, so both engines replay identical integer matrices —
    * mathematical exactness of the deflation is NOT claimed (the
    * truncation injects sub-unit noise), replay equality is. This is
    * also what keeps every deflated matrix inside the oracle's HUGEINT
    * envelope: dividing the rank-one term back down by den keeps
    * C_t's entries at C_1's magnitude (~1.3e18) instead of den²-scaled
    * (~5e45, which would overflow at the second component).
    *
    * Scale shape identical to [[pcaPower]]: the only N-proportional
    * work is the shared memoized [[moments]] pass; everything per
    * component is driver-side d×d metadata arithmetic. */
  def pcaTopK(s: SparkSession, dir: String, k: Int = 3, iters: Int = 10): DataFrame = {
    import s.implicits._
    val d = 64
    val mrows = moments(s, dir).collect()
    val stats = mrows.filter(_.getLong(1) == -1L)
      .map(r => (r.getLong(0).toInt,
                 (BigInt(r.getDecimal(2).toBigInteger), r.getLong(3))))
      .toMap
    if (stats.isEmpty)
      return Seq.empty[(Long, Long, Double, Double)].toDF("comp", "i", "pc", "ev_share")
    val n = BigInt(stats(0)._2)
    var c = Array.ofDim[BigInt](d, d)
    mrows.filter(_.getLong(1) >= 0L).foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val sxy = BigInt(r.getDecimal(2).toBigInteger)
      val cij = n * sxy - stats(i)._1 * stats(j)._1
      c(i)(j) = cij; c(j)(i) = cij
    }
    val scale = BigInt(1000000)
    val trace = (0 until d).foldLeft(BigInt(0))((acc, i) => acc + c(i)(i))
    def matvec(m: Array[Array[BigInt]], v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(i => (0 until d).foldLeft(BigInt(0))((acc, j) => acc + m(i)(j) * v(j)))
    def renorm(w: Array[BigInt]): Array[BigInt] = {
      val mx = w.map(_.abs).max
      if (mx == 0) w else w.map(x => (x.sign: BigInt) * (x.abs * scale / mx))
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double)]()
    (1 to k).foreach { t =>
      var v = Array.fill(d)(scale)
      (0 until iters).foreach(_ => v = renorm(matvec(c, v)))
      val w = matvec(c, v)
      val num = (0 until d).foldLeft(BigInt(0))((acc, i) => acc + v(i) * w(i))
      val den = (0 until d).foldLeft(BigInt(0))((acc, i) => acc + v(i) * v(i))
      // BigInt / truncates toward zero — the oracle sign-splits its //
      // to match (floor != truncate on negatives)
      val lam = if (den == 0) BigInt(0) else num / den
      val denG = if (den == 0) BigInt(1) else den
      val ppm = if (trace == 0) BigInt(0) else (lam * scale) / trace
      val share = ppm.toDouble / 1000000.0
      out ++= (0 until d).map(i => (t.toLong, i.toLong, v(i).toDouble / 1000000.0, share))
      if (t < k)
        c = Array.tabulate(d, d)((i, j) => c(i)(j) - (lam * v(i) * v(j)) / denG)
    }
    out.toSeq.toDF("comp", "i", "pc", "ev_share").orderBy(col("comp"), col("i"))
  }

  /** Energy share along the DOMINANT direction, per label — the report
    * that decides whether all-but-the-top post-processing is worth
    * running, and on which slices: for each vector, the fraction of
    * its squared norm captured by the top principal component
    * ([[pcaPower]]'s direction), aggregated to a per-label mean. A
    * label whose share is high rides the corpus's common direction
    * (cosines inflated, embeddings less discriminative); a low share
    * marks a slice the dominant direction barely touches.
    *
    * Scale split: the direction is [[pcaPower]]'s driver-side output
    * (metadata), embedded as a LITERAL 64-element array — the scoring
    * pass is one scan-rate projection over N with no join and no
    * shuffle before the label aggregate (map-side combine). Shares are
    * micro-quantized before the mean ([[labelCohesion]]'s determinism
    * contract); zero vectors carry no direction and are excluded, a
    * zero direction (degenerate corpus) shares the pca guards and
    * reports 0. */
  def topDirEnergy(s: SparkSession, dir: String): DataFrame = {
    val d = pcaPower(s, dir).collect().sortBy(_.getLong(0)).map(_.getDouble(1))
    // d·d once on the driver with graft_dot's exact left-to-right fold
    // (== DuckDB's list_dot_product over the same values) — the scan
    // must not recompute a constant per row
    val ddot = d.foldLeft(0.0)((acc, x) => acc + x * x)
    val vs = vectors(s, dir).filter(col("norm") > 0)
    vs.select(col("label"), col("v"), col("norm"))
      .withColumn("d", array(d.map(lit): _*))
      .withColumn("ddot", lit(ddot))
      .withColumn("proj", expr("graft_dot(v, d)"))
      .withColumn("shq", when(col("ddot") === 0, lit(0L)).otherwise(
        floor(col("proj") * col("proj")
          / (col("norm") * col("norm") * col("ddot")) * 1000000.0).cast("long")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
           (floor(sum(col("shq")).cast("double") / count(lit(1))) / 1000000.0)
             .as("mean_top_share"))
      .orderBy(col("label"))
  }

  /** ALL-BUT-THE-TOP as a TRANSFORM — the post-processing step
    * [[topDirEnergy]]'s report decides on: remove the dominant
    * direction from every vector (v′ = v − (v·d / d·d)·d, the
    * rank-one deflation of the common-direction recipe) and ship the
    * evidence a pipeline needs to accept the rewrite — per label, the
    * cluster cohesion BEFORE and AFTER removal and the delta. A
    * positive delta means the label's members agree more once the
    * corpus-wide direction is gone (the direction was masking
    * structure); a strongly negative one means that label WAS the
    * direction and removal would destroy it.
    *
    * Scale split, shared with [[topDirEnergy]]: the direction is
    * [[pcaPower]]'s driver-side output embedded as a LITERAL array, so
    * the removal is one scan-rate zip_with projection — no join, no
    * shuffle before the label aggregates; each cohesion side is the
    * [[labelCohesion]] recipe (micro-quantized centroid + integer
    * cosine sums, dimension-bounded aggregates). Zero-norm inputs
    * carry no direction and are excluded; vectors PARALLEL to d
    * (v′ = 0) are excluded from the after-side only. A zero direction
    * (degenerate corpus) passes vectors through unchanged. */
  def allButTop(s: SparkSession, dir: String): DataFrame = {
    val dArr = pcaPower(s, dir).collect().sortBy(_.getLong(0)).map(_.getDouble(1))
    val ddot = dArr.foldLeft(0.0)((acc, x) => acc + x * x)
    val base = vectors(s, dir).filter(col("norm") > 0)
      .withColumn("dlit", array(dArr.map(lit): _*))
      .withColumn("proj", expr("graft_dot(v, dlit)"))
      .withColumn("ddotc", lit(ddot))
      .withColumn("vr",
        if (ddot == 0) col("v")
        else expr("zip_with(v, dlit, (x, y) -> x - proj / ddotc * y)"))
      .withColumn("nr", expr("sqrt(graft_dot(vr, vr))"))
    cohesionDeltaReport(base, "vr", "nr")
  }

  /** Per-label cohesion BEFORE (over `v`/`norm`) and AFTER (over the
    * transformed residual columns) with the delta — the shared
    * evidence tail of [[allButTop]] and [[whitenTopK]], factored to
    * ONE definition because the micro-quantized centroid + integer
    * cosine-mean recipe is oracle contract on BOTH declared queries
    * (a quantization tweak applied to one
    * copy would silently break the other's oracle). Input carries
    * (label, v, norm, residCol, residNormCol); rows at residNorm = 0
    * are excluded from the after-side only. */
  private def cohesionDeltaReport(base: DataFrame,
                                  residCol: String, residNormCol: String): DataFrame = {
    def cohesionCentroids(rel: DataFrame, vcol: String): DataFrame =
      assembleCentroids(
        quantizedMeans(rel.select(col("label"), col(vcol).as("v")), "label"), "label")
    val before = base
      .join(broadcast(cohesionCentroids(base, "v")), Seq("label"))
      .withColumn("cq",
        floor(dot("cv", "v") / (col("cnorm") * col("norm")) * 1000000.0).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
           (floor(sum(col("cq")).cast("double") / count(lit(1))) / 1000000.0)
             .as("coh_before"))
    val afterRel = base.filter(col(residNormCol) > 0)
    val after = afterRel
      .join(broadcast(cohesionCentroids(afterRel, residCol)), Seq("label"))
      .withColumn("cq",
        floor(dot("cv", residCol) / (col("cnorm") * col(residNormCol)) * 1000000.0)
          .cast("long"))
      .groupBy(col("label"))
      .agg((floor(sum(col("cq")).cast("double") / count(lit(1))) / 1000000.0)
             .as("coh_after"))
    before.join(after, Seq("label"))
      .withColumn("delta", col("coh_after") - col("coh_before"))
      .select(col("label"), col("n_vectors"), col("coh_before"),
              col("coh_after"), col("delta"))
      .orderBy(col("label"))
  }

  /** The FULL all-but-the-top transform (Mu & Viswanath 2018's recipe
    * completed): remove the top-K principal directions from every
    * vector by SEQUENTIAL rank-one deflation — r₀ = v, r_t = r_{t−1} −
    * (r_{t−1}·d_t / d_t·d_t)·d_t — and ship the same per-label
    * cohesion evidence as [[allButTop]] (which removes only the
    * dominant direction). Sequential removal, not a joint projection:
    * the deflated directions from [[pcaTopK]] are only approximately
    * orthogonal (truncating-integer deflation), and the sequential
    * fold is exactly replayable per step while a joint least-squares
    * projection would need a float matrix solve no oracle can replay.
    *
    * Scale split identical to [[allButTop]]: the K directions are
    * driver-side metadata embedded as LITERAL arrays, the removal is K
    * chained zip_with projections at scan rate (no join, no shuffle
    * before the label aggregates), and each cohesion side is the
    * [[labelCohesion]] recipe. Zero-norm inputs excluded; vectors
    * landing at r = 0 (inside the removed span) excluded from the
    * after-side only; a zero direction at any step passes through. */
  def whitenTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val comps = pcaTopK(s, dir, k).collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_.getLong(1)).map(_.getDouble(2)) }
    var base = vectors(s, dir).filter(col("norm") > 0)
      .withColumn("r", col("v"))
    comps.zipWithIndex.foreach { case (dt, idx) =>
      val ddot = dt.foldLeft(0.0)((acc, x) => acc + x * x)
      base = base
        .withColumn(s"dl$idx", array(dt.map(lit): _*))
        .withColumn(s"dd$idx", lit(ddot))
        .withColumn(s"p$idx", expr(s"graft_dot(r, dl$idx)"))
        .withColumn("r",
          if (ddot == 0) col("r")
          else expr(s"zip_with(r, dl$idx, (x, y) -> x - p$idx / dd$idx * y)"))
    }
    // MATERIALIZE the transformed vectors before anything joins on or
    // explodes them: `r` is a K-deep nested zip_with/graft_dot tree
    // whose projections each re-evaluate the whole chain (the
    // HOF-in-join blowup PlanAuditSpec polices — measured 275 s vs
    // ~1 s at sf0.1 without this). A real pipeline ships the rewritten
    // embeddings as a table at exactly this point; the checkpoint is
    // that table, one scan-rate pass.
    base = base
      .withColumn("nr", expr("sqrt(graft_dot(r, r))"))
      .select(col("label"), col("v"), col("norm"), col("r"), col("nr"))
      .localCheckpoint()
    cohesionDeltaReport(base, "r", "nr")
  }

  /** Symmetric int8 quantization manifest — the storage-compression step
    * an embedding pipeline runs before writing an ANN index (4 bytes →
    * 1 byte per dim): per-vector scale = max|v_i|/127, code_i =
    * floor(v_i/scale) ∈ [-127, 127]. Emitted as a verification manifest
    * (scale + integer checksums over the code array: sum, squared norm,
    * positive count) rather than raw code arrays — exactly what a
    * backfill job checkpoints to detect quantization drift. Everything
    * after the scale division is INTEGER, so the report is order-
    * independent and exactly replayable; the whole op is one projection
    * over the scan (array expressions, no explode, no shuffle — scan
    * rate at 100 TB). Zero vectors carry no quantizable signal and are
    * excluded (scale would be 0/undefined). */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    vectors(s, dir)
      .withColumn("maxabs",
        expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
      .filter(col("maxabs") > 0)
      .withColumn("q",
        expr("transform(v, x -> CAST(floor(x * CAST(127 AS DOUBLE) / maxabs) AS BIGINT))"))
      .select(
        col("vec_id"),
        size(col("v")).cast("long").as("n_dims"),
        trunc6(col("maxabs") / 127.0).as("scale"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("q_sum"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").as("q_norm2"),
        expr("CAST(size(filter(q, x -> x > 0)) AS BIGINT)").as("n_pos"))
      .orderBy(col("vec_id"))

  /** ANN recall harness: recall@k of each approximate variant against
    * the [[bruteForceTopK]] ground truth at the SAME k — the evaluation
    * report every ANN index ships with (an index without a measured
    * recall number is a guess). Per (method, query): |approx ∩ truth|
    * via an equi-join on (query_id, neighbor_id), so a query whose
    * bucket was empty still reports 0/k (left join from truth). The
    * truth relation is k·Q rows — tiny at any corpus scale; the cost is
    * the variants themselves, which already run map-side-bounded top-k.
    * On this data it also demonstrates the probe knob: single-bucket
    * LSH recall < multi-probe recall. */
  def annRecall(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val truth = bruteForceTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    def per(method: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(method).as("method"), col("query_id"), col("n_true"), col("n_hit"),
          trunc6(col("n_hit").cast("double") / col("n_true")).as("recall"))
    per("lsh", lshTopK(s, dir, nQueries, k))
      .unionByName(per("lsh_multiprobe", lshMultiProbeTopK(s, dir, nQueries, k)))
      // the composed compressed-serving path (coarse pruning + ADC +
      // refine) measured against the same exact-cosine truth — the
      // number an IVFPQ deployment tunes nprobe/shortlist against
      .unionByName(per("ivf_pq", ivfPqTopK(s, dir, nQueries, k)))
      .orderBy(col("method"), col("query_id"))
  }

  /** Corpus cosine-geometry histogram over a FIXED-SIZE deterministic
    * sample: the k vectors with the smallest md5(vec_id) — a bottom-k
    * hash sketch (the classic distinct-sampling trick), computed with
    * [[graft.functions.TopKPairs]] on the negated hash, so the sample
    * stays exactly `sampleK` rows at ANY corpus size (a `% mod` filter
    * would grow with the corpus and turn the pair step quadratic).
    * All pairs within the sample (k²/2, constant) score cosine; the
    * histogram (floor(cos·10) buckets) is the embedding-space health
    * report — a corpus collapsing toward cos≈1 has lost diversity, one
    * centered at 0 is healthy. The pair join is an intended
    * broadcast-nested-loop over the 32-row sample. */
  def cosHistogram(s: SparkSession, dir: String, sampleK: Int = 32): DataFrame = {
    graft.functions.TopKPairs.register(s)
    val hashed = vectors(s, dir).select(col("vec_id"), col("v"), col("norm"),
      expr("CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT)").as("hk"))
    val sampleIds = hashed
      .agg(expr(s"graft_topk(-hk, vec_id, $sampleK)").as("top"))
      .select(explode(expr("transform(top, e -> e.payload)")).as("vec_id"))
    val sample = hashed.join(broadcast(sampleIds), Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("norm"))
    sample.as("a")
      .join(broadcast(sample.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select((expr("graft_dot(a.v, b.v)") / (col("a.norm") * col("b.norm"))).as("cos"))
      .withColumn("bucket", floor(col("cos") * 10.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
           trunc6(min(col("cos"))).as("min_cos"),
           trunc6(max(col("cos"))).as("max_cos"))
      .orderBy(col("bucket"))
  }

  /** Per-dimension embedding health profile: count, deterministic mean
    * (micro-quantized integer sums — the [[quantizedMeans]] contract),
    * min/max, and a dead-dimension counter (|x| < 0.01) — the drift
    * report an embedding pipeline runs before trusting ANN recall: a
    * dimension whose variance collapsed or whose scale exploded breaks
    * cosine geometry silently. One posexplode + one map-side-combined
    * aggregate keyed on the dimension index (64 groups regardless of N
    * — the aggregate state is trivially bounded at any corpus size). */
  def dimStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("pos").cast("long").as("pos"), col("xf").cast("double").as("x"))
      .withColumn("xq", floor(col("x") * 1000000.0).cast("long"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
           sum(col("xq")).as("sum_q"),
           min(col("x")).as("min_x"),
           max(col("x")).as("max_x"),
           sum(when(abs(col("x")) < 0.01, 1L).otherwise(0L)).as("n_dead"))
      .withColumn("mean", floor(col("sum_q").cast("double") / col("n")) / 1000000.0)
      .select(col("pos"), col("n"), col("mean"), col("min_x"), col("max_x"), col("n_dead"))
      .orderBy(col("pos"))
}
