package graft.ops

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (builder-prompt requirement): image/audio/
  * video payloads ride as opaque `binary` columns with typed metadata.
  * The DECODE step is a real (if minimal) codec — [[MediaCodec]]
  * decodes uncompressed PPM/BMP to an integer luma plane, and feature
  * extraction (metadata, perceptual hash, resize) runs over genuine
  * pixels for blobs that parse as images. Payloads that are NOT one of
  * the supported formats (the container ships no compressed-codec
  * libraries, and the synthetic corpus is text bytes) fall back to a
  * clearly-marked deterministic stub — a pure function of the payload
  * bytes — so every row still produces oracle-replayable values.
  * Everything around the codec boundary is the real production pattern:
  *
  *  - the payload is a true `BinaryType` column ([[blobs]]);
  *  - feature extraction runs as `mapPartitions` over a typed Dataset —
  *    the JVM analogue of `mapInPandas` — with the expensive
  *    decoder/model initialized ONCE PER PARTITION (the per-batch
  *    amortization that makes media decode viable at 100 TB), not per
  *    row;
  *  - frame sampling is declarative explode/stride arithmetic, so
  *    Catalyst parallelizes it like any other generator.
  *
  * The stub being a pure byte-function is what lets the DuckDB oracle
  * replay it exactly; a real decoder swaps into [[Multimodal.decodeStub]]
  * without touching the plumbing.
  */
object Multimodal {

  final case class BlobRow(doc_id: Long, blob: Array[Byte])
  final case class MmFeatures(doc_id: Long, n_bytes: Long, width: Long,
                              height: Long, channels: Long, fmt: String)

  /** documents.text's utf-8 bytes standing in for media payloads. */
  private[ops] def blobs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))

  /** THE STUB — replace with a real codec. Deterministic pseudo-decode:
    * metadata derived from the md5 of the payload, so the oracle can
    * derive identical values. `md` is the per-partition "decoder". */
  private def decodeStub(md: MessageDigest, docId: Long, blob: Array[Byte]): MmFeatures = {
    md.reset()
    val h = md.digest(blob).map("%02x".format(_)).mkString
    def hexVal(pos: Int): Long = // value of 2 hex digits at 1-based pos
      java.lang.Long.parseLong(h.substring(pos - 1, pos + 1), 16)
    MmFeatures(
      doc_id = docId,
      n_bytes = blob.length.toLong,
      width = 16 + hexVal(1),
      height = 16 + hexVal(3),
      channels = 1 + hexVal(5) % 3,
      fmt = (hexVal(7) % 3) match { case 0 => "png"; case 1 => "jpeg"; case _ => "webp" })
  }

  /** Feature extraction over binary payloads via mapPartitions: decoder
    * initialized once per partition, rows streamed through it. Blobs
    * that parse as a REAL image ([[MediaCodec.decode]]: P6 PPM / 24-bit
    * BMP) report their genuine width/height/channels/format; everything
    * else takes the deterministic stub path — on the synthetic corpus
    * (text bytes, structurally never a valid image) that is every row,
    * so the driver oracle replays the identical values while the same
    * plan decodes real images wherever they appear. */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame =
    featuresOf(s, blobs(s, dir)).orderBy(col("doc_id"))

  /** [[decodeFeatures]]'s testable core over any (doc_id, blob)
    * relation. */
  private[ops] def featuresOf(s: SparkSession, blobsDf: DataFrame): DataFrame = {
    val sp = s; import sp.implicits._
    blobsDf.as[BlobRow]
      .mapPartitions { rows =>
        val decoder = MessageDigest.getInstance("MD5") // per-partition init
        rows.map { r =>
          MediaCodec.decode(r.blob) match {
            case Some(img) => MmFeatures(r.doc_id, r.blob.length.toLong,
              img.width.toLong, img.height.toLong, img.channels.toLong, img.fmt)
            case None => decodeStub(decoder, r.doc_id, r.blob)
          }
        }
      }
      .toDF()
  }

  /** Resize over binary payloads, behind the codec seam: a blob that
    * decodes as a real image ([[MediaCodec.decode]]) is genuinely
    * downsampled — `outPx` block-mean samples over its luma plane —
    * and non-image payloads keep the original deterministic semantics
    * (uniform-stride byte subsample), so the synthetic corpus replays
    * the identical oracle values. Either way the output is the md5 of
    * the `outPx` samples' hex string: size fixed at `outPx` regardless
    * of input, one decode pass per row, no shuffle. */
  def resizeStub(s: SparkSession, dir: String, outPx: Int = 64): DataFrame =
    resizeOf(s, blobs(s, dir), outPx).orderBy(col("doc_id"))

  /** [[resizeStub]]'s testable core. Non-image parity contract: sample
    * i is the byte at offset `i · (n_bytes div outPx)`, rendered as two
    * lowercase hex chars, all `outPx` samples concatenated and md5'd —
    * bit-identical to the previous declarative form and to the DuckDB
    * oracle's replay. Rows shorter than `outPx` bytes are dropped
    * (images are never dropped: the luma resample handles any size). */
  private[ops] def resizeOf(s: SparkSession, blobsDf: DataFrame, outPx: Int): DataFrame = {
    val sp = s; import sp.implicits._
    blobsDf.as[BlobRow]
      .mapPartitions { rows =>
        val md = MessageDigest.getInstance("MD5")
        def md5Hex(samples: Array[Int]): String = {
          val sb = new java.lang.StringBuilder(samples.length * 2)
          samples.foreach(v => sb.append(f"$v%02x"))
          md.reset()
          md.digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        }
        rows.flatMap { r =>
          MediaCodec.decode(r.blob) match {
            case Some(img) =>
              Some((r.doc_id, r.blob.length.toLong, outPx.toLong,
                md5Hex(MediaCodec.resample(img, outPx))))
            case None if r.blob.length >= outPx =>
              val stride = r.blob.length / outPx
              Some((r.doc_id, r.blob.length.toLong, outPx.toLong,
                md5Hex(Array.tabulate(outPx)(i => r.blob(i * stride) & 0xFF))))
            case None => None
          }
        }
      }
      .toDF("doc_id", "n_bytes", "out_px", "resized_md5")
  }

  /** Frame sampling: treat the payload as a sequence of 16-byte frames
    * and keep every 4th, emitting (doc_id, frame_no, frame hash). Pure
    * explode + stride arithmetic — the scan parallelizes per row group
    * and the generator never materializes unsampled frames. */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    blobs(s, dir)
      .withColumn("hh", lower(hex(col("blob"))))
      .withColumn("n_frames", expr("CAST(length(hh) div 32 AS BIGINT)")) // 16 bytes = 32 hex chars
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("hh"), col("n_frames"),
        explode(expr("sequence(0, CAST(n_frames - 1 AS INT), 4)")).as("frame_no"))
      .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
        md5(expr("substring(hh, CAST(frame_no AS INT) * 32 + 1, 32)")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_no"))

  /** FRAME-level exact dedup across media payloads — the video-dedup
    * primitive (mirrored uploads share most frames even when container
    * metadata differs, so whole-file digests miss them): every 16-byte
    * frame hashes to md5, a frame is DUPLICATED when its hash occurs in
    * ≥2 distinct documents, and each document reports its duplicated-
    * frame fraction — near 1.0 flags a re-encoded copy, mid-range flags
    * shared intro/outro segments. The distinct-doc count (not raw
    * occurrences) keeps a frame looping within ONE video from
    * self-promoting, exactly like [[TextAnalysis.boilerplate]]'s DF
    * rule. Cost: one generator pass over the frames, one 32-byte-keyed
    * frequency aggregate bounded by distinct frames, one hash join back
    * — the shape that holds when frames outnumber documents 10⁴:1. */
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    // Collapse the frame-occurrence stream to per-(doc, frame) counts at
    // the FIRST map-side-combinable aggregate and materialize that small
    // relation once: the hex+explode+md5 decode pass otherwise runs twice
    // (document-frequency rollup + the join), and the join then moves
    // occurrence rows instead of distinct (doc, frame) rows. Same math:
    // n_frames = Σ cnt, df counts distinct docs per frame either way,
    // and a frame's occurrences all share its df.
    val frames = blobs(s, dir)
      .withColumn("hh", lower(hex(col("blob"))))
      .withColumn("n_frames", expr("CAST(length(hh) div 32 AS BIGINT)"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("hh"), col("n_frames"),
        explode(expr("sequence(0, CAST(n_frames - 1 AS INT))")).as("i"))
      .select(col("doc_id"),
        md5(expr("substring(hh, CAST(i AS INT) * 32 + 1, 32)")).as("fm"))
      .groupBy(col("doc_id"), col("fm")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val dfreq = frames
      .groupBy(col("fm")).agg(count(lit(1)).as("df"))
    frames.join(dfreq, Seq("fm"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_frames"),
           sum(when(col("df") >= 2, col("cnt")).otherwise(0L)).as("n_dup_frames"))
      .withColumn("dup_ratio",
        Tables.trunc6(col("n_dup_frames").cast("double") / col("n_frames")))
      .orderBy(col("doc_id"))
  }

  /** PERCEPTUAL-hash near-dup over "decoded" images — the image-dedup
    * primitive whole-file digests and frame hashing both miss (a
    * re-encoded or slightly-edited image shares almost no bytes but
    * nearly all perceptual structure). A 64-bit AVERAGE HASH (aHash,
    * the classic pHash-family recipe): 64 grayscale samples at uniform
    * stride over the payload (the decode stub — sample = byte value; a
    * real decoder swaps a luma plane in without touching anything
    * downstream), bit j set iff sample j is above the document mean —
    * then the SAME pigeonhole blocking and exact Hamming verify the
    * text SimHash family uses ([[graft.ops.Dedup.Plain]]), whose
    * exactness is already ScalaCheck-proven. Integer-exact throughout:
    * the threshold compares `px·64 > Σpx`, never a float mean, so the
    * oracle replays every bit; bit 63 rides the shared signed-64
    * convention (Spark `1L << 63` = DuckDB's HUGEINT-routed min-BIGINT).
    * At 100 TB this is one scan-rate projection per payload plus the
    * blocked join — candidates track true perceptual-dup density. */
  def phashNearDup(s: SparkSession, dir: String): DataFrame =
    // The signature relation is MATERIALIZED (memoized localCheckpoint)
    // before the blocked self-join: the aHash is one decode pass per
    // payload and ~12 B/doc of signature, and every consumer would
    // otherwise re-decode the corpus. A join over an unmaterialized
    // lambda-built signature column is also a trap: null-intolerance
    // inference pushes isnotnull(<whole tree>) into the scans and lambda
    // inlining re-derives it per element (PlanAuditSpec guards this).
    Dedup.hammingPairsFrom(phashRaw(s, dir), Dedup.Plain)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The memoized (doc_id, simhash) media-signature relation — ONE
    * decode pass per payload, then ~12 B/doc forever ([[phashNearDup]]
    * and the persisted index build share it). */
  private[ops] def phashRaw(s: SparkSession, dir: String): DataFrame =
    Tables.memoized("phash64", s, dir) { phashSignatures(s, dir) }

  /** [[phashNearDup]] reading the PERSISTED media chunk index
    * ([[IndexTables.ensurePhashIndex]]) — the media-domain twin of
    * `dedup_hamming_indexed`, and the domain where the persisted index
    * matters MOST: the signature derivation pays the codec seam's
    * decode per payload (THE expensive step for media), so a
    * deployment decodes once at index build and every consumer joins
    * the ~16 B/doc chunk rows with zero decodes. Same bucket spec as
    * the text chunk index: candidate generation is a bucket-local
    * sort-merge join, no Exchange, no per-query Sort. Identical rows
    * to [[phashNearDup]]; same driver oracle. */
  def phashNearDupIndexed(s: SparkSession, dir: String): DataFrame =
    Dedup.keyPairs(s.table(IndexTables.ensurePhashIndex(s, dir, Dedup.Plain.nChunks)), Dedup.Plain)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The 64-bit average-hash projection (see [[phashNearDup]]), behind
    * the codec seam: real images hash 64 BLOCK-MEAN samples of their
    * decoded 8×8 luma grid ([[MediaCodec.luma64]] — the classic aHash
    * recipe, now over genuine pixels); non-image payloads hash the
    * same 64 uniform-stride byte samples as before (sample i = unsigned
    * byte at `i · (n_bytes div 64)`, threshold `px·64 > Σpx`), so the
    * synthetic corpus' signatures — and the driver oracle — are
    * unchanged. */
  private def phashSignatures(s: SparkSession, dir: String): DataFrame =
    phashOf(s, blobs(s, dir))

  /** [[phashSignatures]]'s testable core. */
  private[ops] def phashOf(s: SparkSession, blobsDf: DataFrame): DataFrame = {
    val sp = s; import sp.implicits._
    blobsDf.as[BlobRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          MediaCodec.decode(r.blob) match {
            case Some(img) =>
              Some((r.doc_id, MediaCodec.aHash64(MediaCodec.luma64(img))))
            case None if r.blob.length >= 64 =>
              val stride = r.blob.length / 64
              Some((r.doc_id, MediaCodec.aHash64(
                Array.tabulate(64)(i => (r.blob(i * stride) & 0xFF).toLong))))
            case None => None
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** Audio-feature shape: treat the payload as 8-byte frames, compute an
    * integer per-frame energy (sum of unsigned byte values), and report
    * the per-document energy profile — frame count, mean (integer-
    * floored), max, and peak count (frames above 2× the mean), i.e. the
    * onset-detection summary an audio curation pass stores. Frame energy
    * is a pure fold over hex pairs (one projection, codegen'd); the
    * per-doc mean needs one window over the doc's frames — at 100 TB the
    * window partitions by doc_id, which is how the frames already
    * co-locate after the generator. All arithmetic is INTEGER, so the
    * profile replays exactly on any engine. */
  def audioEnergy(s: SparkSession, dir: String): DataFrame = {
    val frames = blobs(s, dir)
      .withColumn("hh", lower(hex(col("blob"))))
      .withColumn("n_frames", expr("CAST(length(hh) div 16 AS BIGINT)")) // 8 bytes = 16 hex chars
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("hh"), col("n_frames"),
        explode(expr("sequence(0, CAST(n_frames - 1 AS INT))")).as("i"))
      .withColumn("e", expr(
        """aggregate(
          |  transform(sequence(0, 7),
          |    j -> CAST(conv(substring(hh, (CAST(i AS INT) * 8 + j) * 2 + 1, 2), 16, 10) AS BIGINT)),
          |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
    frames
      .withColumn("mean_e", expr(
        "sum(e) OVER (PARTITION BY doc_id) div count(e) OVER (PARTITION BY doc_id)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
           min(col("mean_e")).as("mean_energy"),
           max(col("e")).as("max_energy"),
           sum(when(col("e") > lit(2) * col("mean_e"), 1L).otherwise(0L)).as("n_peaks"))
      .orderBy(col("doc_id"))
  }
}
