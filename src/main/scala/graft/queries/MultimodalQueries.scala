package graft.queries

import graft.sources.Tables
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal catalog entries. The testdata ships no real media table, so the
  * binary columns are manufactured deterministically: byte-stats entries use
  * ASCII-filtered text cast to bytes, and the DECODE entries build REAL
  * PNG / RIFF-WAVE / RIFF-AVI payloads whose pixels/samples are a pure
  * integer function of the media id ([[Multimodal.syntheticPng]] /
  * [[Multimodal.syntheticWav]] / [[Multimodal.syntheticAvi]]). That makes
  * the real JDK decoders (ImageIO, PCM-16 parse, AVI chunk demux)
  * oracle-checkable end-to-end: DuckDB evaluates the same integer formula,
  * so one mangled pixel, sample, or frame boundary hash-mismatches.
  */
object MultimodalQueries {

  private val PngW = 16
  private val PngH = 16
  /** samples per fingerprint frame in the planted WAVs (decimated copy: 32) */
  private val WavFrameLen = 64
  private val WavSamples = 480
  private val WavRate = 8000
  private val VidW = 8
  private val VidH = 8
  private val VidFrames = 6
  private val SampleK = 2
  /** frame edge for the fingerprint corpus — frame-constant pixels make 2×2
    * sufficient, and the half-resolution near-dup variant is then 1×1 */
  private val VidFpW = 2
  private val VidFpH = 2

  /** Spread the (media_id) id rows across the session's task slots BEFORE
    * the payload synth/decode UDF attaches (r17, guide §2.5/§8): the ids
    * come out of one tiny parquet row-group (1–2 scan partitions), so the
    * expensive per-row media work otherwise ran near-SERIALLY regardless
    * of core count (measured: mm_image_dedup_crop 4.5–5.5 s task run ≈
    * wall — zero parallelism). Only the 8-byte ids cross the exchange
    * (guide §8: move keys, synthesize payloads after); every downstream
    * consumer (channel sums, fingerprints, min-hash, banding) is
    * partition-invariant (the r4 whole-catalog discipline), so outputs
    * are unchanged. Slot-count partitioning is the right scale for a
    * per-row decode: at production volumes the media table is
    * payload-bearing and naturally multi-partition, and this repartition
    * of bare ids is noise there. */
  private def spreadIds(ids: DataFrame): DataFrame =
    ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)

  /** REAL image decode under the oracle: synthesize a PNG per document id,
    * decode it with ImageIO, emit dimensions + exact per-channel sums.
    * Decode is partition-local after the id spread ([[spreadIds]] — the
    * only exchange carries bare ids); the scan reads only doc_id. */
  def mmImageDecode(s: SparkSession, dir: String): DataFrame = {
    val makePng = udf { (id: Long) => Multimodal.syntheticPng(id, PngW, PngH) }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makePng(col("media_id")))
    Multimodal.imageFeatures(media)
      .select(col("media_id"),
        col("img.width").as("width"), col("img.height").as("height"),
        col("img.sumR").as("sum_r"), col("img.sumG").as("sum_g"),
        col("img.sumB").as("sum_b"))
  }

  /** REAL WAV decode under the oracle: synthesize a PCM-16 WAV per document
    * id, parse header + samples, emit rate/counts + exact sample aggregates. */
  def mmAudioDecode(s: SparkSession, dir: String): DataFrame = {
    val makeWav = udf { (id: Long) => Multimodal.syntheticWav(id, WavSamples, WavRate) }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeWav(col("media_id")))
    Multimodal.audioFeatures(media)
      .select(col("media_id"),
        col("wav.sampleRate").as("sample_rate"),
        col("wav.nSamples").as("n_samples"),
        col("wav.sumAmp").as("sum_amp"),
        col("wav.maxAmp").as("max_amp"))
  }

  /** REAL decode → resize under the oracle: synthesize a 16×16 PNG, decode,
    * nearest-neighbor downsample to 8×8 (dst (x,y) samples src (2x, 2y)),
    * emit the RESIZED image's channel sums. The oracle evaluates the
    * synthetic-pixel formula on exactly the sampled source offsets — a
    * one-pixel-off resize (center-sampling, rounding, transposed axes)
    * hash-mismatches. */
  def mmImageResize(s: SparkSession, dir: String): DataFrame = {
    val makePng = udf { (id: Long) => Multimodal.syntheticPng(id, PngW, PngH) }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makePng(col("media_id")))
    Multimodal.imageResize(media, PngW / 2, PngH / 2)
      .select(col("media_id"),
        col("rimg.width").as("width"), col("rimg.height").as("height"),
        col("rimg.sumR").as("sum_r"), col("rimg.sumG").as("sum_g"),
        col("rimg.sumB").as("sum_b"))
  }

  /** Byte-level metadata over a binary payload column: size + digest +
    * a 4-bucket shard key. Pure column expressions, no decode. */
  def mmByteStats(s: SparkSession, dir: String): DataFrame = {
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
    Multimodal.byteStats(media)
      .select(col("media_id"), col("n_bytes").cast("int").as("n_bytes"), col("digest"),
        (col("media_id") % 4).as("shard"))
  }

  /** Decoded-feature aggregate: stub-decode the payload into a 16-bin
    * byte-value histogram, aggregate per bin. Payload is ASCII-filtered so
    * the DuckDB oracle's codepoint histogram equals the byte histogram —
    * exact integer arithmetic in both engines. */
  def mmFeatureAgg(s: SparkSession, dir: String): DataFrame = {
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        regexp_replace(col("text"), "[^\\x00-\\x7F]", "").cast("binary").as("payload"))
    Multimodal.extractFeatures(media)
      .select(col("media_id"), posexplode(col("features")).as(Seq("bin", "cnt")))
      .where(col("cnt") > 0)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_media"), sum(col("cnt")).cast("long").as("total"))
  }

  /** REAL video demux under the oracle: synthesize a 6-frame MJPG-tagged AVI
    * per document id (PNG-encoded frames, so decode is lossless), demux the
    * `LIST('movi')` chunk walk, ImageIO-decode every frame, emit per-frame
    * channel sums. DuckDB evaluates the same (id, frame, pixel) integer
    * formula — one mis-walked chunk boundary or mangled pixel
    * hash-mismatches. Decode is partition-local after the id spread
    * ([[spreadIds]]); the scan reads only doc_id. */
  def mmVideoFrames(s: SparkSession, dir: String): DataFrame = {
    // bmp frames: the uncompressed-DIB AVI shape — real container demux +
    // real ImageIO frame decode without paying PNG deflate on every frame
    // (the MJPEG path is spec-pinned with true JPEG frames separately)
    val makeAvi = udf { (id: Long) =>
      Multimodal.syntheticAvi(id, VidW, VidH, VidFrames, codec = "bmp") }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeAvi(col("media_id")))
    Multimodal.videoFrames(media)
      .select(col("media_id"), explode(col("frames")).as("f"))
      .select(col("media_id"), col("f.frameIdx").as("frame_idx"),
        col("f.width").as("width"), col("f.height").as("height"),
        col("f.sumR").as("sum_r"), col("f.sumG").as("sum_g"),
        col("f.sumB").as("sum_b"))
  }

  /** REAL frame sampling at real frame boundaries: demux the synthetic AVI,
    * keep every 2nd frame (indices 0, 2, 4), decode ONLY the kept frames,
    * and fold their channel sums in-row (`aggregate` over the struct array —
    * no explode, no shuffle). The oracle replays the same formula restricted
    * to `f % 2 = 0`, so a sampler that's off by one frame hash-mismatches. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    val makeAvi = udf { (id: Long) =>
      Multimodal.syntheticAvi(id, VidW, VidH, VidFrames, codec = "bmp") }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeAvi(col("media_id")))
    Multimodal.sampleFrames(media, everyK = SampleK)
      .select(col("media_id"), col("n_frames_sampled"),
        aggregate(col("frames"), lit(0L), (a, f) => a + f("sumR")).as("sum_r_sampled"),
        aggregate(col("frames"), lit(0L), (a, f) => a + f("sumG")).as("sum_g_sampled"),
        aggregate(col("frames"), lit(0L), (a, f) => a + f("sumB")).as("sum_b_sampled"))
  }

  /** PERCEPTUAL image near-dup pairs — the dedup family extended to the
    * multimodal column. Byte digests ([[mmByteStats]]) only catch bit-exact
    * copies; a training pipeline's actual image dups are RESIZED and
    * RE-ENCODED copies sharing zero bytes. Per doc group of 8 the corpus
    * plants exactly those: doc 8k is an original 16×16 block-structured PNG;
    * 8k+1 is its BMP re-encode (same pixels, disjoint bytes), 8k+2 its 8×8
    * NN-downsample, 8k+3 a one-tile edit (Hamming ≤ 1); 8k+4..7 are
    * unrelated originals. Pipeline: REAL ImageIO decode → 56-bit dHash
    * ([[Multimodal.dHash]]) → the SAME pigeonhole band machinery as text
    * SimHash ([[Dedup.simhashPairs]], Hamming ≤ 3, chunk-df star cap 64).
    * Scale: decode is partition-local; pairing is one banding equi-join —
    * never a pixel-space or all-pairs comparison. The oracle re-derives
    * every dHash bit from the tile formula (one mangled pixel, resize
    * convention, or band boundary hash-mismatches) and replays the
    * cold/hot star semantics exactly like `dedup_simhash_pairs`. */
  /** The decode→dHash stage of [[mmImageDedup]], exposed for the cap audit
    * ([[graft.tools.CapAudit]]): (doc, simhash) with the 56-bit dHash. */
  private[graft] def mmImageDedupHashes(s: SparkSession, dir: String): DataFrame = {
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val iid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticBlockImage(iid, PngW, PngH, 2, format = "bmp")
        case 2 => Multimodal.syntheticBlockImage(iid, PngW / 2, PngH / 2, 1)
        case 3 => Multimodal.syntheticBlockImage(iid, PngW, PngH, 2, bumpBlock0 = true)
        case _ => Multimodal.syntheticBlockImage(iid, PngW, PngH, 2)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.perceptualHashes(media)
      .where(col("dhash").isNotNull)
      .select(col("media_id").as("doc"), col("dhash").as("simhash"))
  }

  def mmImageDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(mmImageDedupHashes(s, dir), maxHamming = 3,
        maxChunkDf = Some(64), hashBits = Multimodal.FpBits)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))

  /** PERCEPTUAL audio near-dup pairs — the third modality through the same
    * band machinery (text SimHash, image dHash, now audio). A pipeline's
    * real audio dups are GAIN-ADJUSTED and RESAMPLED copies sharing zero
    * payload bytes; byte digests miss all of them. Per doc group of 8 the
    * corpus plants exactly those: doc 8k is an original frame-structured
    * WAV ([[Multimodal.syntheticFrameWav]]); 8k+1 its gain-doubled copy,
    * 8k+2 its half-rate decimation (both fingerprint-IDENTICAL by the
    * energy-order-preservation argument on [[Multimodal.audioFingerprint]],
    * bytes disjoint), 8k+3 a one-frame edit (Hamming ≤ 1); 8k+4..7
    * unrelated originals. Pipeline: REAL PCM decode → 56-bit energy-delta
    * fingerprint → [[Dedup.simhashPairs]] (Hamming ≤ 3, chunk-df star cap
    * 64). Scale: decode is partition-local, pairing one banding equi-join —
    * never a sample-space or all-pairs comparison. The oracle re-derives
    * every bit from the md5 amplitude formula (gain/decimation cancel in
    * the energy ORDER, so amp comparisons are energy comparisons) and
    * replays the cold/hot star semantics. */
  private[graft] def mmAudioDedupHashes(s: SparkSession, dir: String): DataFrame = {
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val aid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticFrameWav(aid, Multimodal.AudioFpFrames, WavFrameLen, gain = 2)
        case 2 => Multimodal.syntheticFrameWav(aid, Multimodal.AudioFpFrames, WavFrameLen, decimate = 2)
        case 3 => Multimodal.syntheticFrameWav(aid, Multimodal.AudioFpFrames, WavFrameLen, bumpFrame0 = true)
        case _ => Multimodal.syntheticFrameWav(aid, Multimodal.AudioFpFrames, WavFrameLen)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.audioFingerprints(media)
      .where(col("afp").isNotNull)
      .select(col("media_id").as("doc"), col("afp").as("simhash"))
  }

  def mmAudioDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(mmAudioDedupHashes(s, dir), maxHamming = 3,
        maxChunkDf = Some(64), hashBits = Multimodal.FpBits)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))

  /** PERCEPTUAL video near-dup pairs — the FOURTH modality through the same
    * band machinery (text SimHash, image dHash, audio energy deltas, now the
    * video luminance trajectory). A pipeline's real video dups are
    * BRIGHTNESS-ADJUSTED transcodes and SPATIALLY RESCALED copies sharing
    * zero payload bytes; byte digests miss all of them. Per doc group of 8
    * the corpus plants exactly those: doc 8k is an original 57-frame
    * frame-structured AVI ([[Multimodal.syntheticFrameAvi]], BMP frames);
    * 8k+1 its brightness-doubled copy, 8k+2 its 1×1
    * spatial downscale (both fingerprint-IDENTICAL by the
    * gray-sum-order-preservation argument on
    * [[Multimodal.videoFingerprint]], bytes disjoint), 8k+3 a one-frame
    * edit (frame 0 joins only comparison bit 0 — Hamming ≤ 1); 8k+4..7
    * unrelated originals. Pipeline: REAL RIFF
    * demux → REAL per-frame ImageIO decode → 56-bit trajectory fingerprint
    * → [[Dedup.simhashPairs]] (Hamming ≤ 3, chunk-df star cap 64). Scale:
    * demux+decode is partition-local, pairing one banding equi-join —
    * never a frame-space or all-pairs comparison. The oracle re-derives
    * every bit from the md5 frame-color formula (brightness and rescale
    * cancel in the gray-sum ORDER, so color comparisons ARE the gray-sum
    * comparisons the Spark side computes from the real decode) and replays
    * the cold/hot star semantics. */
  private[graft] def mmVideoDedupHashes(s: SparkSession, dir: String): DataFrame = {
    val F = Multimodal.VideoFpFrames
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val vid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH, gain = 2)
        case 2 => Multimodal.syntheticFrameAvi(vid, F, VidFpW / 2, VidFpH / 2)
        case 3 => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH, bumpFrame0 = true)
        case _ => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.videoFingerprints(media)
      .where(col("vfp").isNotNull)
      .select(col("media_id").as("doc"), col("vfp").as("simhash"))
  }

  def mmVideoDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(mmVideoDedupHashes(s, dir), maxHamming = 3,
        maxChunkDf = Some(64), hashBits = Multimodal.FpBits)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))

  /** COMBINED 2-D BORDER crop — closing the gap [[mmImageDedupCrop2d]]
    * documents ("combined top+left crops need a finer grid or a lower
    * bar"): the finer grid. On 40×16 tiles a SIMULTANEOUS top-1-row +
    * left-1-column crop loses ~8.6% of content and the row-interior
    * shingle sets still clear the 0.8 bar (J = 555/666 ≈ 0.833 planted —
    * the J ≈ (1−ℓ)/(1+ℓ) content-loss law made concrete: deeper combined
    * crops need proportionally finer grids, a corpus-policy dial, not new
    * machinery). Quarter corpus (doc_id % 4 = 0): the 640-token grid is
    * ~4.4× the 1-D entry's token volume. Per group of 8 on (id/4):
    * 8k+1 the combined crop, 8k+2 a ×2 gain copy, 8k+3 a one-tile edit. */
  val ImgCbCols = 40
  val ImgCbRows = 16
  private[graft] def mmImageCropCombinedDocs(s: SparkSession, dir: String): DataFrame = {
    val makeMedia = udf { (id: Long) =>
      val v = (id / 4) % 8
      val iid = if (v >= 1 && v <= 3) id - 4 * v else id
      v match {
        case 1 => Multimodal.syntheticTileImage(iid, ImgCbCols, ImgCbRows, VidFpW,
          cropTopRows = 1, cropLeftCols = 1, format = "bmp")
        case 2 => Multimodal.syntheticTileImage(iid, ImgCbCols, ImgCbRows, VidFpW, gain = 2, format = "bmp")
        case 3 => Multimodal.syntheticTileImage(iid, ImgCbCols, ImgCbRows, VidFpW, bumpTile0 = true, format = "bmp")
        case _ => Multimodal.syntheticTileImage(iid, ImgCbCols, ImgCbRows, VidFpW, format = "bmp")
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .where(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.imageTokenColumn(media, tile = VidFpW)
      .where(col("text").isNotNull)
      .select(col("media_id").as("doc_id"), col("text"))
  }

  def mmImageDedupCropCombined(s: SparkSession, dir: String): DataFrame = {
    val d = mmImageCropCombinedDocs(s, dir)
    val sh = Dedup.docShinglesRaw(d, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh)
    Dedup.jaccardPairs(sh, 0.8, candidates = Some(Dedup.lshCandidates(sigs)))
  }

  /** CROSS-MODAL dedup — one connected-component pass over the UNION of
    * the text near-dup pair graph (the shared MinHash+Jaccard artifact
    * every cluster entry builds on) and the image perceptual pair graph
    * (dHash through the band machinery, doc ↔ media by the established
    * id link): the real crawl case where one page survives as a rewrite
    * with the SAME image (text pairs miss it, image pairs catch it) or
    * the same text with a re-encoded image (vice versa) — either edge is
    * enough for the component, so the keep decision spans modalities.
    * Linear composition: both edge sets are the proven banded joins, the
    * union is a metadata concat, and the min-label fixpoint runs once
    * over |E_text| + |E_image|. Oracle: the text pairs replay from the
    * dumped artifact (the cluster-family convention — full-chain proven
    * by `dedup_minhash_pairs`), the image pairs replay full-chain from
    * the tile formula, and the closure is the recursive-CTE transitive
    * closure. Output: (doc, canonical) for every document. */
  def dedupMultimodalCc(s: SparkSession, dir: String): DataFrame = {
    val textPairs = TextDedupQueries.sharedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val imgPairs = mmImageDedup(s, dir).select(col("doc_a"), col("doc_b"))
    val d = Tables.parquet(s, s"$dir/documents.parquet").select(col("doc_id"))
    Dedup.keepListConverged(d, "doc_id", textPairs.unionByName(imgPairs))
  }

  /** DCT-pHash near-dup pairs — the image dedup family closed over
    * NON-monotone-on-gray tone edits (VERDICT r7 ask #3). Per doc group of
    * 8: doc 8k is an original bright-R 16×16 block PNG; 8k+1 its BMP
    * re-encode, 8k+2 its 8×8 NN-downsample, 8k+3 its per-channel GAMMA
    * copy (c ↦ ⌊c²/255⌋ — strictly monotone on the bright-R channel, so
    * [[graft.operators.Multimodal.pHash]]'s rank input is EXACTLY
    * preserved, while r+g+b sums reorder and [[graft.operators.Multimodal.dHash]]
    * measures hamming ≫ 3 on ~2/3 of the copies, MultimodalSpec); 8k+4..7
    * unrelated. Pipeline: REAL decode → rank-equalized integer 8×8 DCT
    * signs → the same adaptive banding. The oracle re-derives every DCT
    * coefficient from the tile formula and the [[graft.operators.Multimodal.DctT]]
    * literals. */
  private[graft] def mmImagePhashHashes(s: SparkSession, dir: String): DataFrame = {
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val iid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticBlockImage(iid, PngW, PngH, 2, format = "bmp", brightR = true)
        case 2 => Multimodal.syntheticBlockImage(iid, PngW / 2, PngH / 2, 1, brightR = true)
        case 3 => Multimodal.syntheticBlockImage(iid, PngW, PngH, 2, gamma = true, brightR = true)
        case _ => Multimodal.syntheticBlockImage(iid, PngW, PngH, 2, brightR = true)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.pHashes(media)
      .where(col("phash").isNotNull)
      .select(col("media_id").as("doc"), col("phash").as("simhash"))
  }

  def mmImageDedupPhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(mmImagePhashHashes(s, dir), maxHamming = 3,
        maxChunkDf = Some(64), hashBits = Multimodal.FpBits)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))

  /** Spectral-band near-dup pairs — the audio dedup family closed over
    * EQ-shifted copies (VERDICT r7 ask #3). Per doc group of 8: doc 8k is
    * an original two-band Walsh WAV
    * ([[graft.operators.Multimodal.syntheticBandWav]]); 8k+1 its EQ-SHIFTED
    * copy (band gains 3:1 — total frame energies reorder, so the
    * energy-order [[graft.operators.Multimodal.audioFingerprint]] measures
    * hamming ≫ 3, MultimodalSpec, while the per-band spectral bits are
    * EXACTLY invariant); 8k+2 its uniform ×2 gain copy; 8k+3 a one-frame
    * edit (≤ 1 bit); 8k+4 its NOISE-ADDED copy (±3 amplitude noise per
    * band — the energy margins absorb it, measured hamming ≤ 2 over 6250
    * planted pairs, closing the "noise-added" member of the r7 gap list);
    * 8k+5..7 unrelated. Pipeline: REAL PCM decode →
    * integer Walsh-Hadamard band energies → within-band comparisons → the
    * same adaptive banding. The oracle replays bits from the amplitude
    * formula (per-band gains cancel inside a band by exact Walsh
    * orthogonality). */
  private[graft] def mmAudioSpectralHashes(s: SparkSession, dir: String): DataFrame = {
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val aid = if (v >= 1 && v <= 4) id - v else id
      v match {
        case 1 => Multimodal.syntheticBandWav(aid, g1 = 3, g2 = 1)
        case 2 => Multimodal.syntheticBandWav(aid, g1 = 2, g2 = 2)
        case 3 => Multimodal.syntheticBandWav(aid, bumpFrame0 = true)
        case 4 => Multimodal.syntheticBandWav(aid, noise = true) // ±3 amp noise
        case _ => Multimodal.syntheticBandWav(aid)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.spectralFingerprints(media)
      .where(col("sfp").isNotNull)
      .select(col("media_id").as("doc"), col("sfp").as("simhash"))
  }

  def mmAudioDedupSpectral(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(mmAudioSpectralHashes(s, dir), maxHamming = 3,
        maxChunkDf = Some(64), hashBits = Multimodal.FpBits)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))

  /** CROP-ROBUST audio near-dup pairs — the third transform class the
    * bit-position fingerprints miss (VERDICT r7 named re-equalized,
    * noise-added, and CROPPED copies; `mm_audio_dedup_spectral` closed the
    * EQ gap, this entry closes the crop gap). Per doc group of 8: doc 8k is
    * an original two-band Walsh WAV; 8k+1 its 2-frame TEMPORAL CROP (both
    * bit-position fingerprints misalign and miss it — MultimodalSpec
    * measures hamming ≫ 3); 8k+2 its uniform ×2 gain copy; 8k+3 a
    * one-frame edit; 8k+4..7 unrelated. Pipeline: REAL decode →
    * frame-local gain-invariant tokens
    * ([[graft.operators.Multimodal.audioTokens]]: gcd-reduced band-energy
    * rationals over FIXED-duration frames) → the TEXT dedup machinery
    * VERBATIM (3-token shingles → MinHash → LSH → exact Jaccard ≥ 0.8):
    * a crop deletes a token prefix and set semantics absorb it
    * (J = 25/27 for the planted crop). The oracle replays tokens from the
    * amplitude formula and the shared text-family CTE chain. */
  val CropFrames = 2
  private[graft] def mmAudioCropDocs(s: SparkSession, dir: String): DataFrame = {
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val aid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticBandWav(aid, crop = CropFrames)
        case 2 => Multimodal.syntheticBandWav(aid, g1 = 2, g2 = 2)
        case 3 => Multimodal.syntheticBandWav(aid, bumpFrame0 = true)
        case _ => Multimodal.syntheticBandWav(aid)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.audioTokenColumn(media)
      .where(col("text").isNotNull)
      .select(col("media_id").as("doc_id"), col("text"))
  }

  def mmAudioDedupCrop(s: SparkSession, dir: String): DataFrame = {
    val d = mmAudioCropDocs(s, dir)
    val sh = Dedup.docShinglesRaw(d, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh)
    Dedup.jaccardPairs(sh, 0.8, candidates = Some(Dedup.lshCandidates(sigs)))
  }

  /** CROP-ROBUST video near-dup pairs — the temporal-crop transform class
    * for the FOURTH modality, completing the crop-robust family
    * symmetrically with [[mmAudioDedupCrop]]. Per doc group of 8: doc 8k is
    * an original 57-frame frame-structured AVI; 8k+1 its 2-frame TEMPORAL
    * CROP (the bit-position [[graft.operators.Multimodal.videoFingerprint]]
    * misaligns and misses it — MultimodalSpec measures hamming ≫ 3); 8k+2
    * its brightness-doubled transcode; 8k+3 a one-frame edit; 8k+4..7
    * unrelated. Pipeline: REAL RIFF demux + per-frame ImageIO decode →
    * frame-local tokens ([[graft.operators.Multimodal.videoTokens]]:
    * gcd-reduced channel-sum triples — brightness gain and spatial rescale
    * are common factors the reduction removes exactly) → the TEXT dedup
    * machinery VERBATIM (3-token shingles → MinHash → LSH → exact
    * Jaccard ≥ 0.8): a crop deletes a token prefix and set semantics absorb
    * it (J = 53/55 for the planted crop). The oracle replays tokens from
    * the md5 frame-color formula (the W·H·gain pixel factor cancels in the
    * gcd reduction, so the raw color triple's reduction IS the decoded
    * channel-sum reduction) and the shared text-family CTE chain. */
  val VidCropFrames = 2
  private[graft] def mmVideoCropDocs(s: SparkSession, dir: String): DataFrame = {
    val F = Multimodal.VideoFpFrames
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val vid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH, crop = VidCropFrames)
        case 2 => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH, gain = 2)
        case 3 => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH, bumpFrame0 = true)
        case _ => Multimodal.syntheticFrameAvi(vid, F, VidFpW, VidFpH)
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.videoTokenColumn(media)
      .where(col("text").isNotNull)
      .select(col("media_id").as("doc_id"), col("text"))
  }

  def mmVideoDedupCrop(s: SparkSession, dir: String): DataFrame = {
    val d = mmVideoCropDocs(s, dir)
    val sh = Dedup.docShinglesRaw(d, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh)
    Dedup.jaccardPairs(sh, 0.8, candidates = Some(Dedup.lshCandidates(sigs)))
  }

  /** CROP-ROBUST image near-dup pairs — the spatial member completing the
    * crop-robust family across ALL THREE perceptual modalities (audio,
    * video, now image). Per doc group of 8: doc 8k is an original 12×12-tile
    * image ([[graft.operators.Multimodal.syntheticTileImage]]); 8k+1 its
    * TOP-BANNER crop (first two tile rows removed — both fixed-grid position
    * hashes sample shifted content and miss it, MultimodalSpec measures
    * dHash hamming ≫ 3); 8k+2 its brightness-doubled copy; 8k+3 a one-tile
    * edit; 8k+4..7 unrelated. Pipeline: REAL decode → FIXED-SIZE-tile
    * tokens ([[graft.operators.Multimodal.imageTokens]]: gcd-reduced
    * channel-sum triples, gain-invariant exactly) → the TEXT dedup
    * machinery VERBATIM; the crop is a pure token-prefix loss
    * (J = 118/142 planted). The oracle replays tokens from the md5 tile
    * formula (tile-constant pixels ⟹ the raw color triple's reduction IS
    * the decoded channel-sum reduction) and the shared text CTE chain. */
  /** 12×12 tile grid, 2-row banner crop: at 8×8 tiles a 1-row crop moves
    * only ONE of dHash's 8 sampled rows (hamming ~3.5 — half the copies
    * survive, measured), while a 2-row crop there drops Jaccard to 0.74.
    * At 12×12, the 2-row crop shifts 6 of 8 sampled rows (dHash hamming
    * ≫ 3 on ~100%) and J = 118/142 ≈ 0.83 clears the bar. */
  val ImgTiles = 12
  val ImgCropRows = 2
  private[graft] def mmImageCropDocs(s: SparkSession, dir: String): DataFrame = {
    // BMP payloads: imageTokens' decodeBmp24Raw fast path — 5k ImageIO.read
    // calls were the measured hot spot of this entry's first cut (7.2 s)
    val makeMedia = udf { (id: Long) =>
      val v = id % 8
      val iid = if (v >= 1 && v <= 3) id - v else id
      v match {
        case 1 => Multimodal.syntheticTileImage(iid, ImgTiles, ImgTiles, VidFpW, cropTopRows = ImgCropRows, format = "bmp")
        case 2 => Multimodal.syntheticTileImage(iid, ImgTiles, ImgTiles, VidFpW, gain = 2, format = "bmp")
        case 3 => Multimodal.syntheticTileImage(iid, ImgTiles, ImgTiles, VidFpW, bumpTile0 = true, format = "bmp")
        case _ => Multimodal.syntheticTileImage(iid, ImgTiles, ImgTiles, VidFpW, format = "bmp")
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.imageTokenColumn(media, tile = VidFpW)
      .where(col("text").isNotNull)
      .select(col("media_id").as("doc_id"), col("text"))
  }

  def mmImageDedupCrop(s: SparkSession, dir: String): DataFrame = {
    val d = mmImageCropDocs(s, dir)
    val sh = Dedup.docShinglesRaw(d, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh)
    Dedup.jaccardPairs(sh, 0.8, candidates = Some(Dedup.lshCandidates(sigs)))
  }

  /** 2-D crop-robust image dedup — BOTH crop axes through the same token
    * machinery, and the measured finding that makes it work: shingle SETS
    * are position-free, so the plain row-major token sequence already
    * absorbs a SIDE (left-column) crop — each surviving row's interior
    * 3-grams are set members wherever the row lands in the sequence —
    * PROVIDED rows are wide relative to the shingle width. On the 1-D
    * entry's 12-wide grid a 1-column crop drops Jaccard to ~0.65 (the
    * spec measures it; row-interior shingles are only 9 of 12 per row);
    * on this entry's 24-wide grid the same crop holds J = 252/308 ≈ 0.82.
    * (A row-separator-token variant was measured at J ≈ 0.824 — within
    * noise of plain tokens, because sets never cared about position; the
    * honest lever is grid width vs crop fraction, J ≈ (1−ℓ)/(1+ℓ) for
    * content loss ℓ, so combined top+left crops need either a finer grid
    * or a lower bar — documented, not implemented.) Per doc group of 8
    * over the EVEN docs (the 288-token grid is 2× the 1-D entry's volume;
    * halving the corpus keeps the bench honest): 8k+1 a 2-row TOP crop
    * (J ≈ 0.83), 8k+2 a 1-column LEFT crop (J ≈ 0.82), 8k+3 a ×2 gain
    * copy. The oracle replays tokens in cropped row-major order and the
    * shared text CTE chain at the 0.8 bar. */
  val Img2dCols = 24
  val Img2dRows = 12
  val Img2dCropTop = 2
  val Img2dCropLeft = 1
  private[graft] def mmImageCrop2dDocs(s: SparkSession, dir: String): DataFrame = {
    // variants keyed on id/2: the corpus is the EVEN docs, so id % 8 would
    // never hit the odd variant slots
    val makeMedia = udf { (id: Long) =>
      val v = (id / 2) % 8
      val iid = if (v >= 1 && v <= 3) id - 2 * v else id
      v match {
        case 1 => Multimodal.syntheticTileImage(iid, Img2dCols, Img2dRows, VidFpW, cropTopRows = Img2dCropTop, format = "bmp")
        case 2 => Multimodal.syntheticTileImage(iid, Img2dCols, Img2dRows, VidFpW, cropLeftCols = Img2dCropLeft, format = "bmp")
        case 3 => Multimodal.syntheticTileImage(iid, Img2dCols, Img2dRows, VidFpW, gain = 2, format = "bmp")
        case _ => Multimodal.syntheticTileImage(iid, Img2dCols, Img2dRows, VidFpW, format = "bmp")
      }
    }
    val media = Tables.parquet(s, s"$dir/documents.parquet")
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("media_id"))
      .transform(spreadIds)
      .withColumn("payload", makeMedia(col("media_id")))
    Multimodal.imageTokenColumn(media, tile = VidFpW)
      .where(col("text").isNotNull)
      .select(col("media_id").as("doc_id"), col("text"))
  }

  def mmImageDedupCrop2d(s: SparkSession, dir: String): DataFrame = {
    val d = mmImageCrop2dDocs(s, dir)
    val sh = Dedup.docShinglesRaw(d, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh)
    Dedup.jaccardPairs(sh, 0.8, candidates = Some(Dedup.lshCandidates(sigs)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_byte_stats" -> mmByteStats _,
    "mm_feature_agg" -> mmFeatureAgg _,
    "mm_video_frames" -> mmVideoFrames _,
    "mm_frame_sample" -> mmFrameSample _,
    "mm_image_decode" -> mmImageDecode _,
    "mm_image_resize" -> mmImageResize _,
    "mm_audio_decode" -> mmAudioDecode _,
    "mm_image_dedup" -> mmImageDedup _,
    "mm_audio_dedup" -> mmAudioDedup _,
    "mm_video_dedup" -> mmVideoDedup _,
    "mm_image_dedup_phash" -> mmImageDedupPhash _,
    "mm_audio_dedup_spectral" -> mmAudioDedupSpectral _,
    "mm_audio_dedup_crop" -> mmAudioDedupCrop _,
    "mm_video_dedup_crop" -> mmVideoDedupCrop _,
    "mm_image_dedup_crop" -> mmImageDedupCrop _,
    "mm_image_dedup_crop2d" -> mmImageDedupCrop2d _,
    "mm_image_dedup_crop_combined" -> mmImageDedupCropCombined _,
    "dedup_multimodal_cc" -> dedupMultimodalCc _,
  )

  // the full-chain image dHash pair replay (decode formula + banding) —
  // the mm_image_dedup oracle, factored so dedup_multimodal_cc can embed
  // it as a subquery
  private[queries] val imageDhashPairsSql: String =
    s"""WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 8 IN (1, 2, 3)
        |      THEN doc_id - doc_id % 8 ELSE doc_id END AS iid,
        |    (doc_id % 8 = 3) AS edited
        |  FROM documents),
        |grays AS (
        |  SELECT media_id, b,
        |    CASE WHEN edited AND b = 0
        |      THEN (('0x' || substr(h, 1, 2))::INT + 7) % 256
        |         + (('0x' || substr(h, 3, 2))::INT + 7) % 256
        |         + (('0x' || substr(h, 5, 2))::INT + 7) % 256
        |      ELSE ('0x' || substr(h, 1, 2))::INT
        |         + ('0x' || substr(h, 3, 2))::INT
        |         + ('0x' || substr(h, 5, 2))::INT END AS gray
        |  FROM (SELECT media_id, edited, bb.b AS b,
        |          md5(CAST(iid * 64 + bb.b AS VARCHAR)) AS h
        |        FROM media CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb)),
        |bits AS (
        |  SELECT gc.media_id,
        |    CASE WHEN gn.gray > gc.gray
        |      THEN (CAST(1 AS BIGINT) << ((gc.b // 8) * 7 + gc.b % 8))
        |      ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM grays gc JOIN grays gn
        |    ON gn.media_id = gc.media_id AND gn.b = gc.b + 1
        |  WHERE gc.b % 8 < 7),
        |hashes AS (
        |  SELECT media_id AS doc, CAST(sum(bit) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |${graft.operators.Dedup.simhashBandSql("hashes", graft.operators.Multimodal.FpBits, 64)}""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "mm_byte_stats" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        | md5(text) AS digest,
        | doc_id % 4 AS shard
        |FROM documents""".stripMargin,
    "mm_feature_agg" ->
      """WITH cleaned AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS clean
        |  FROM documents),
        |chars AS (
        |  SELECT media_id, ascii(substr(clean, CAST(i AS INT), 1)) // 16 AS bin
        |  FROM (SELECT media_id, clean, unnest(range(1, len(clean) + 1)) AS i
        |        FROM cleaned)),
        |per_media AS (
        |  SELECT media_id, bin, count(*) AS cnt FROM chars GROUP BY 1, 2)
        |SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(cnt) AS BIGINT) AS total
        |FROM per_media GROUP BY 1""".stripMargin,
    // the per-(frame, pixel) formula of Multimodal.syntheticAvi — validates
    // the RIFF/movi chunk walk AND every ImageIO-decoded frame pixel
    "mm_video_frames" ->
      s"""WITH fr AS (
         |  SELECT doc_id AS media_id, unnest(range(0, $VidFrames)) AS f
         |  FROM documents),
         |px AS (
         |  SELECT media_id, f, unnest(range(0, ${VidW * VidH})) AS p FROM fr)
         |SELECT media_id, CAST(f AS INT) AS frame_idx, $VidW AS width, $VidH AS height,
         |  CAST(sum((media_id * 7919 + f * 523 + p * 257) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((media_id * 7919 + f * 523 + p * 257 + 101) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((media_id * 7919 + f * 523 + p * 257 + 202) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY 1, 2""".stripMargin,
    // same formula restricted to the sampled frame indices f % K = 0 — an
    // off-by-one-frame sampler breaks the hash
    "mm_frame_sample" ->
      s"""WITH fr AS (
         |  SELECT doc_id AS media_id, unnest(range(0, $VidFrames)) AS f
         |  FROM documents),
         |px AS (
         |  SELECT media_id, f, unnest(range(0, ${VidW * VidH})) AS p
         |  FROM fr WHERE f % $SampleK = 0)
         |SELECT media_id,
         |  CAST(${(VidFrames + SampleK - 1) / SampleK} AS INT) AS n_frames_sampled,
         |  CAST(sum((media_id * 7919 + f * 523 + p * 257) % 256) AS BIGINT) AS sum_r_sampled,
         |  CAST(sum((media_id * 7919 + f * 523 + p * 257 + 101) % 256) AS BIGINT) AS sum_g_sampled,
         |  CAST(sum((media_id * 7919 + f * 523 + p * 257 + 202) % 256) AS BIGINT) AS sum_b_sampled
         |FROM px GROUP BY 1""".stripMargin,
    // the decoded-pixel formula of Multimodal.syntheticPng — one mangled
    // pixel in the ImageIO round-trip breaks the channel-sum hash
    "mm_image_decode" ->
      s"""WITH px AS (
         |  SELECT doc_id AS media_id, unnest(range(0, ${PngW * PngH})) AS p
         |  FROM documents)
         |SELECT media_id, $PngW AS width, $PngH AS height,
         |  CAST(sum((media_id * 7919 + p * 257) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((media_id * 7919 + p * 257 + 101) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((media_id * 7919 + p * 257 + 202) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY 1""".stripMargin,
    // NN resize sampling map: dst q (0..dstW·dstH-1) → src p =
    // (2·(q div dstW))·srcW + 2·(q mod dstW); sums evaluate the synthetic
    // formula at exactly those source offsets
    "mm_image_resize" -> {
      val (dw, dh) = (PngW / 2, PngH / 2)
      s"""WITH px AS (
         |  SELECT doc_id AS media_id, unnest(range(0, ${dw * dh})) AS q
         |  FROM documents),
         |mapped AS (
         |  SELECT media_id, (q // $dw * 2) * $PngW + (q % $dw) * 2 AS p FROM px)
         |SELECT media_id, $dw AS width, $dh AS height,
         |  CAST(sum((media_id * 7919 + p * 257) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((media_id * 7919 + p * 257 + 101) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((media_id * 7919 + p * 257 + 202) % 256) AS BIGINT) AS sum_b
         |FROM mapped GROUP BY 1""".stripMargin
    },
    // re-derives every 56-bit dHash from the tile formula (decode → 8×8 NN
    // grid → gray r+g+b → horizontal comparisons), then replays the same
    // 15-bit-chunk banding + cold/hot star semantics as dedup_simhash_pairs
    // audio: bits replayed from the md5 AMPLITUDE formula — gain and
    // decimation scale every frame energy by one positive factor, so
    // amp(f+1) > amp(f) IS the energy comparison the Spark side computes
    // from the real PCM decode; band/star semantics verbatim from the
    // image/text machinery
    "mm_audio_dedup" ->
      s"""WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 8 IN (1, 2, 3)
        |      THEN doc_id - doc_id % 8 ELSE doc_id END AS aid,
        |    (doc_id % 8 = 3) AS edited
        |  FROM documents),
        |amps AS (
        |  SELECT media_id, f,
        |    CASE WHEN edited AND f = 0 THEN (raw + 7) % 16384 ELSE raw END AS amp
        |  FROM (SELECT media_id, edited, ff.f AS f,
        |          ('0x' || substr(md5(CAST(aid * 57 + ff.f AS VARCHAR)), 1, 4))::INT
        |            % 16384 AS raw
        |        FROM media CROSS JOIN (SELECT unnest(range(0, 57)) AS f) ff)),
        |bits AS (
        |  SELECT ac.media_id,
        |    CASE WHEN an.amp > ac.amp
        |      THEN (CAST(1 AS BIGINT) << ac.f) ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM amps ac JOIN amps an
        |    ON an.media_id = ac.media_id AND an.f = ac.f + 1),
        |hashes AS (
        |  SELECT media_id AS doc, CAST(sum(bit) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |${graft.operators.Dedup.simhashBandSql("hashes", graft.operators.Multimodal.FpBits, 64)}""".stripMargin,
    "mm_image_dedup" -> imageDhashPairsSql,
    // video: bits replayed from the md5 FRAME-COLOR formula — brightness
    // gain and spatial rescale scale every frame's gray sum by one positive
    // factor, so gray(f+1) > gray(f) on the raw per-frame colors IS the
    // decoded-gray-sum comparison the Spark side computes from the real
    // demux + per-frame decode; band/star semantics verbatim from the
    // text/image/audio machinery
    "mm_video_dedup" ->
      s"""WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 8 IN (1, 2, 3)
        |      THEN doc_id - doc_id % 8 ELSE doc_id END AS vid,
        |    (doc_id % 8 = 3) AS edited
        |  FROM documents),
        |grays AS (
        |  SELECT media_id, f,
        |    CASE WHEN edited AND f = 0
        |      THEN (r + 7) % 128 + (g + 7) % 128 + (b + 7) % 128
        |      ELSE r + g + b END AS gray
        |  FROM (SELECT media_id, edited, ff.f AS f,
        |          ('0x' || substr(h, 1, 2))::INT % 128 AS r,
        |          ('0x' || substr(h, 3, 2))::INT % 128 AS g,
        |          ('0x' || substr(h, 5, 2))::INT % 128 AS b
        |        FROM (SELECT media_id, edited, ff.f,
        |                md5(CAST(vid * 64 + ff.f AS VARCHAR) || 'v') AS h
        |              FROM media
        |              CROSS JOIN (SELECT unnest(range(0, 57)) AS f) ff) ff)),
        |bits AS (
        |  SELECT gc.media_id,
        |    CASE WHEN gn.gray > gc.gray
        |      THEN (CAST(1 AS BIGINT) << gc.f) ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM grays gc JOIN grays gn
        |    ON gn.media_id = gc.media_id AND gn.f = gc.f + 1),
        |hashes AS (
        |  SELECT media_id AS doc, CAST(sum(bit) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |${graft.operators.Dedup.simhashBandSql("hashes", graft.operators.Multimodal.FpBits, 64)}""".stripMargin,
    // the sample formula of Multimodal.syntheticWav — validates the PCM
    // header walk AND every little-endian 16-bit sample
    "mm_audio_decode" ->
      s"""WITH smp AS (
         |  SELECT doc_id AS media_id,
         |    ((doc_id * 131 + unnest(range(0, $WavSamples)) * 17) % 65536) - 32768 AS s
         |  FROM documents)
         |SELECT media_id, $WavRate AS sample_rate, $WavSamples AS n_samples,
         |  CAST(sum(s) AS BIGINT) AS sum_amp, CAST(max(s) AS INT) AS max_amp
         |FROM smp GROUP BY 1""".stripMargin,
    // pHash: every DCT coefficient re-derived from the tile formula — the
    // bright-R channel value (gamma-squared for the planted copy), the
    // rank-equalization row_number, and the integer DCT via the DctT
    // literals the Spark kernel multiplies by. One mangled rank, basis
    // entry, or sign convention hash-mismatches.
    "mm_image_dedup_phash" -> {
      val dctVals = (for (u <- 0 until 8; x <- 0 until 8)
        yield s"($u, $x, ${graft.operators.Multimodal.DctT(u)(x)})").mkString(", ")
      s"""WITH media AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 8 IN (1, 2, 3)
         |      THEN doc_id - doc_id % 8 ELSE doc_id END AS iid,
         |    (doc_id % 8 = 3) AS gammad
         |  FROM documents),
         |rv AS (
         |  SELECT media_id, b,
         |    CASE WHEN gammad THEN (r * r) // 255 ELSE r END AS rval
         |  FROM (SELECT media_id, gammad, bb.b AS b,
         |          128 + ('0x' || substr(md5(CAST(iid * 64 + bb.b AS VARCHAR)), 1, 2))::INT % 128 AS r
         |        FROM media CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb)),
         |rk AS (SELECT media_id, b,
         |    CAST(row_number() OVER (PARTITION BY media_id ORDER BY rval, b) - 1 AS BIGINT) AS rnk
         |  FROM rv),
         |dctt(u, x, t) AS (VALUES $dctVals),
         |fcoef AS (SELECT rk.media_id, tu.u AS fu, tv.u AS fv,
         |    sum(tu.t * tv.t * rk.rnk) AS f
         |  FROM rk JOIN dctt tu ON tu.x = rk.b % 8
         |  JOIN dctt tv ON tv.x = rk.b // 8
         |  GROUP BY 1, 2, 3),
         |hashes AS (SELECT media_id AS doc,
         |    CAST(sum(CASE WHEN f > 0
         |      THEN (CAST(1 AS BIGINT) << (fu * 7 + fv - 1))
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |  FROM fcoef WHERE fv >= 1 GROUP BY 1),
         |${graft.operators.Dedup.simhashBandSql("hashes", graft.operators.Multimodal.FpBits, 64)}""".stripMargin
    },
    // crop-robust audio dedup: tokens replayed from the amplitude formula
    // (e_b = (64·g_b·a_b)², gcd-reduced — the uniform gain is a common
    // factor the reduction removes exactly, matching the Scala kernel),
    // then the TEXT family's shingle → MinHash → LSH → exact-Jaccard CTE
    // chain VERBATIM with toks bound to the token strings
    "mm_audio_dedup_crop" -> {
      val F = graft.operators.Multimodal.SpectralFrames
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id % 8 AS v,
         |    CASE WHEN doc_id % 8 IN (1, 2, 3)
         |      THEN doc_id - doc_id % 8 ELSE doc_id END AS aid
         |  FROM documents),
         |frames AS (
         |  SELECT media_id, v, aid, ff.f AS f,
         |    ff.f + CASE WHEN v = 1 THEN $CropFrames ELSE 0 END AS orig_f,
         |    CASE WHEN v = 2 THEN 2 ELSE 1 END AS g
         |  FROM media CROSS JOIN (SELECT unnest(range(0, $F)) AS f) ff
         |  WHERE ff.f < $F - CASE WHEN v = 1 THEN $CropFrames ELSE 0 END),
         |amps AS (
         |  SELECT media_id, f,
         |    g * (CASE WHEN v = 3 AND orig_f = 0 THEN (a1r + 7) % 4096 ELSE a1r END) AS a1,
         |    g * a2r AS a2
         |  FROM (SELECT media_id, v, f, orig_f, g,
         |          ('0x' || substr(h, 1, 3))::INT AS a1r,
         |          ('0x' || substr(h, 4, 3))::INT AS a2r
         |        FROM (SELECT media_id, v, f, orig_f, g,
         |                md5(CAST(aid * $F + orig_f AS VARCHAR) || 'a') AS h
         |              FROM frames) fh) fa),
         |energies AS (
         |  SELECT media_id, f,
         |    4096 * CAST(a1 AS BIGINT) * a1 AS e1,
         |    4096 * CAST(a2 AS BIGINT) * a2 AS e2
         |  FROM amps),
         |toksrc AS (
         |  SELECT media_id, f,
         |    CASE WHEN e1 = 0 AND e2 = 0 THEN '0/0'
         |         ELSE (e1 // gcd(e1, e2)) || '/' || (e2 // gcd(e1, e2))
         |    END AS tok
         |  FROM energies),
         |texts AS (SELECT media_id AS doc_id,
         |    string_agg(tok, ' ' ORDER BY f) AS text
         |  FROM toksrc GROUP BY 1),
         |toks AS (SELECT doc_id, text,
         |  list_filter(string_split(text, ' '), x -> x != '') AS t FROM texts),
         |${TextDedupQueries.shinglesCte}, ${TextDedupQueries.sigCte},
         |${TextDedupQueries.pairsCtesUncapped}
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.8""".stripMargin
    },
    // crop-robust video dedup: tokens replayed from the md5 frame-color
    // formula — the decoded channel sums are W·H·gain·(r,g,b), and the
    // gcd reduction removes the common W·H·gain factor exactly, so the
    // raw color triple's reduction IS the Spark side's decoded-sum token;
    // then the TEXT family's shingle → MinHash → LSH → exact-Jaccard CTE
    // chain VERBATIM with toks bound to the token strings
    "mm_video_dedup_crop" -> {
      val F = graft.operators.Multimodal.VideoFpFrames
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id % 8 AS v,
         |    CASE WHEN doc_id % 8 IN (1, 2, 3)
         |      THEN doc_id - doc_id % 8 ELSE doc_id END AS vid
         |  FROM documents),
         |frames AS (
         |  SELECT media_id, v, vid, ff.f AS f,
         |    ff.f + CASE WHEN v = 1 THEN $VidCropFrames ELSE 0 END AS orig_f
         |  FROM media CROSS JOIN (SELECT unnest(range(0, $F)) AS f) ff
         |  WHERE ff.f < $F - CASE WHEN v = 1 THEN $VidCropFrames ELSE 0 END),
         |colors AS (
         |  SELECT media_id, f,
         |    CASE WHEN v = 3 AND orig_f = 0 THEN (r + 7) % 128 ELSE r END AS r,
         |    CASE WHEN v = 3 AND orig_f = 0 THEN (g + 7) % 128 ELSE g END AS g,
         |    CASE WHEN v = 3 AND orig_f = 0 THEN (b + 7) % 128 ELSE b END AS b
         |  FROM (SELECT media_id, v, f, orig_f,
         |          ('0x' || substr(h, 1, 2))::INT % 128 AS r,
         |          ('0x' || substr(h, 3, 2))::INT % 128 AS g,
         |          ('0x' || substr(h, 5, 2))::INT % 128 AS b
         |        FROM (SELECT media_id, v, f, orig_f,
         |                md5(CAST(vid * 64 + orig_f AS VARCHAR) || 'v') AS h
         |              FROM frames) fh) fc),
         |toksrc AS (
         |  SELECT media_id, f,
         |    CASE WHEN r = 0 AND g = 0 AND b = 0 THEN '0/0/0'
         |         ELSE (r // gcd(gcd(r, g), b)) || '/' || (g // gcd(gcd(r, g), b))
         |           || '/' || (b // gcd(gcd(r, g), b))
         |    END AS tok
         |  FROM colors),
         |texts AS (SELECT media_id AS doc_id,
         |    string_agg(tok, ' ' ORDER BY f) AS text
         |  FROM toksrc GROUP BY 1),
         |toks AS (SELECT doc_id, text,
         |  list_filter(string_split(text, ' '), x -> x != '') AS t FROM texts),
         |${TextDedupQueries.shinglesCte}, ${TextDedupQueries.sigCte},
         |${TextDedupQueries.pairsCtesUncapped}
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.8""".stripMargin
    },
    // crop-robust image dedup: tokens replayed from the md5 tile formula —
    // tile-constant pixels make the decoded channel sums tile²·gain·(r,g,b),
    // and the gcd reduction removes the common factor exactly; the banner
    // crop restricts the replay to original tiles b >= crop·cols; then the
    // TEXT family's CTE chain verbatim
    "mm_image_dedup_crop" -> {
      val nTiles = ImgTiles * ImgTiles
      val cropTiles = ImgCropRows * ImgTiles
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id % 8 AS v,
         |    CASE WHEN doc_id % 8 IN (1, 2, 3)
         |      THEN doc_id - doc_id % 8 ELSE doc_id END AS iid
         |  FROM documents),
         |tiles AS (
         |  SELECT media_id, v, iid, bb.b AS b
         |  FROM media CROSS JOIN (SELECT unnest(range(0, $nTiles)) AS b) bb
         |  WHERE bb.b >= CASE WHEN v = 1 THEN $cropTiles ELSE 0 END),
         |colors AS (
         |  SELECT media_id, b,
         |    CASE WHEN v = 3 AND b = 0 THEN (r + 7) % 128 ELSE r END AS r,
         |    CASE WHEN v = 3 AND b = 0 THEN (g + 7) % 128 ELSE g END AS g,
         |    CASE WHEN v = 3 AND b = 0 THEN (bl + 7) % 128 ELSE bl END AS bl
         |  FROM (SELECT media_id, v, b,
         |          ('0x' || substr(h, 1, 2))::INT % 128 AS r,
         |          ('0x' || substr(h, 3, 2))::INT % 128 AS g,
         |          ('0x' || substr(h, 5, 2))::INT % 128 AS bl
         |        FROM (SELECT media_id, v, b,
         |                md5(CAST(iid * 1024 + b AS VARCHAR) || 't') AS h
         |              FROM tiles) th) tc),
         |toksrc AS (
         |  SELECT media_id, b,
         |    CASE WHEN r = 0 AND g = 0 AND bl = 0 THEN '0/0/0'
         |         ELSE (r // gcd(gcd(r, g), bl)) || '/' || (g // gcd(gcd(r, g), bl))
         |           || '/' || (bl // gcd(gcd(r, g), bl))
         |    END AS tok
         |  FROM colors),
         |texts AS (SELECT media_id AS doc_id,
         |    string_agg(tok, ' ' ORDER BY b) AS text
         |  FROM toksrc GROUP BY 1),
         |toks AS (SELECT doc_id, text,
         |  list_filter(string_split(text, ' '), x -> x != '') AS t FROM texts),
         |${TextDedupQueries.shinglesCte}, ${TextDedupQueries.sigCte},
         |${TextDedupQueries.pairsCtesUncapped}
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.8""".stripMargin
    },
    // 2-D crop dedup: per-row token strings joined by the separator token,
    // crop restrictions on the ORIGINAL row/col indices, gain cancelling in
    // the gcd reduction; then the shared text CTE chain
    "mm_image_dedup_crop2d" -> {
      val (tcols, trows) = (Img2dCols, Img2dRows)
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, (doc_id // 2) % 8 AS v,
         |    CASE WHEN (doc_id // 2) % 8 IN (1, 2, 3)
         |      THEN doc_id - 2 * ((doc_id // 2) % 8) ELSE doc_id END AS iid
         |  FROM documents WHERE doc_id % 2 = 0),
         |tiles AS (
         |  SELECT media_id, v, iid, bb.b AS b,
         |    bb.b // $tcols AS brow, bb.b % $tcols AS bcol
         |  FROM media CROSS JOIN (SELECT unnest(range(0, ${tcols * trows})) AS b) bb
         |  WHERE bb.b // $tcols >= CASE WHEN v = 1 THEN $Img2dCropTop ELSE 0 END
         |    AND bb.b % $tcols >= CASE WHEN v = 2 THEN $Img2dCropLeft ELSE 0 END),
         |colors AS (
         |  SELECT media_id, brow, bcol,
         |    ('0x' || substr(h, 1, 2))::INT % 128 AS r,
         |    ('0x' || substr(h, 3, 2))::INT % 128 AS g,
         |    ('0x' || substr(h, 5, 2))::INT % 128 AS bl
         |  FROM (SELECT media_id, brow, bcol,
         |          md5(CAST(iid * 1024 + b AS VARCHAR) || 't') AS h
         |        FROM tiles) th),
         |toksrc AS (
         |  SELECT media_id, brow, bcol,
         |    CASE WHEN r = 0 AND g = 0 AND bl = 0 THEN '0/0/0'
         |         ELSE (r // gcd(gcd(r, g), bl)) || '/' || (g // gcd(gcd(r, g), bl))
         |           || '/' || (bl // gcd(gcd(r, g), bl))
         |    END AS tok
         |  FROM colors),
         |texts AS (SELECT media_id AS doc_id,
         |    string_agg(tok, ' ' ORDER BY brow, bcol) AS text
         |  FROM toksrc GROUP BY 1),
         |toks AS (SELECT doc_id, text,
         |  list_filter(string_split(text, ' '), x -> x != '') AS t FROM texts),
         |${TextDedupQueries.shinglesCte}, ${TextDedupQueries.sigCte},
         |${TextDedupQueries.pairsCtesUncapped}
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.8""".stripMargin
    },
    // combined 2-D border crop: both axis restrictions on the original
    // tile indices, the quarter-corpus variant keying, the shared chain
    "mm_image_dedup_crop_combined" -> {
      val (tcols, trows) = (ImgCbCols, ImgCbRows)
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, (doc_id // 4) % 8 AS v,
         |    CASE WHEN (doc_id // 4) % 8 IN (1, 2, 3)
         |      THEN doc_id - 4 * ((doc_id // 4) % 8) ELSE doc_id END AS iid
         |  FROM documents WHERE doc_id % 4 = 0),
         |tiles AS (
         |  SELECT media_id, v, iid, bb.b AS b,
         |    bb.b // $tcols AS brow, bb.b % $tcols AS bcol
         |  FROM media CROSS JOIN (SELECT unnest(range(0, ${tcols * trows})) AS b) bb
         |  WHERE bb.b // $tcols >= CASE WHEN v = 1 THEN 1 ELSE 0 END
         |    AND bb.b % $tcols >= CASE WHEN v = 1 THEN 1 ELSE 0 END),
         |colors AS (
         |  SELECT media_id, brow, bcol,
         |    CASE WHEN v = 3 AND b = 0 THEN (r + 7) % 128 ELSE r END AS r,
         |    CASE WHEN v = 3 AND b = 0 THEN (g + 7) % 128 ELSE g END AS g,
         |    CASE WHEN v = 3 AND b = 0 THEN (bl + 7) % 128 ELSE bl END AS bl
         |  FROM (SELECT media_id, v, b, brow, bcol,
         |          ('0x' || substr(h, 1, 2))::INT % 128 AS r,
         |          ('0x' || substr(h, 3, 2))::INT % 128 AS g,
         |          ('0x' || substr(h, 5, 2))::INT % 128 AS bl
         |        FROM (SELECT media_id, v, b, brow, bcol,
         |                md5(CAST(iid * 1024 + b AS VARCHAR) || 't') AS h
         |              FROM tiles) th) tc),
         |toksrc AS (
         |  SELECT media_id, brow, bcol,
         |    CASE WHEN r = 0 AND g = 0 AND bl = 0 THEN '0/0/0'
         |         ELSE (r // gcd(gcd(r, g), bl)) || '/' || (g // gcd(gcd(r, g), bl))
         |           || '/' || (bl // gcd(gcd(r, g), bl))
         |    END AS tok
         |  FROM colors),
         |texts AS (SELECT media_id AS doc_id,
         |    string_agg(tok, ' ' ORDER BY brow, bcol) AS text
         |  FROM toksrc GROUP BY 1),
         |toks AS (SELECT doc_id, text,
         |  list_filter(string_split(text, ' '), x -> x != '') AS t FROM texts),
         |${TextDedupQueries.shinglesCte}, ${TextDedupQueries.sigCte},
         |${TextDedupQueries.pairsCtesUncapped}
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.8""".stripMargin
    },
    // cross-modal CC: text pairs from the dumped artifact (the
    // cluster-family convention), image pairs full-chain, one recursive
    // transitive closure over the union
    "dedup_multimodal_cc" ->
      s"""WITH RECURSIVE
         |jp AS (SELECT doc_a, doc_b FROM '__GRAFT_ARTIFACTS__/pairs.parquet/*.parquet'),
         |imgp AS (SELECT doc_a, doc_b FROM ($imageDhashPairsSql)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp
         |  UNION ALL SELECT doc_a, doc_b FROM imgp
         |  UNION ALL SELECT doc_b, doc_a FROM imgp
         |  UNION ALL SELECT doc_id, doc_id FROM documents),
         |reach AS (SELECT src AS doc, dst AS r FROM edges
         |  UNION
         |  SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         |cc AS (SELECT doc, min(r) AS canonical FROM reach GROUP BY 1)
         |SELECT doc, canonical FROM cc""".stripMargin,
    // spectral: bits replayed from the md5 BAND-AMPLITUDE formula — the
    // per-band gains cancel inside a band (exact Walsh orthogonality:
    // E_b = 64·(g_b·a_b)², so E_b(f+1) > E_b(f) IS a_b(f+1) > a_b(f)),
    // which is precisely the EQ-invariance the entry exists to prove
    "mm_audio_dedup_spectral" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 8 IN (1, 2, 3, 4)
         |      THEN doc_id - doc_id % 8 ELSE doc_id END AS aid,
         |    (doc_id % 8 = 3) AS edited, (doc_id % 8 = 4) AS noisy
         |  FROM documents),
         |amps AS (
         |  SELECT media_id, f,
         |    CASE WHEN noisy THEN GREATEST(0,
         |        (CASE WHEN edited AND f = 0 THEN (a1r + 7) % 4096 ELSE a1r END)
         |        + ('0x' || substr(md5(k || 'n1'), 1, 2))::INT % 7 - 3)
         |      ELSE CASE WHEN edited AND f = 0 THEN (a1r + 7) % 4096 ELSE a1r END
         |    END AS a1,
         |    CASE WHEN noisy THEN GREATEST(0,
         |        a2r + ('0x' || substr(md5(k || 'n2'), 1, 2))::INT % 7 - 3)
         |      ELSE a2r END AS a2
         |  FROM (SELECT media_id, edited, noisy, ff.f AS f, k,
         |          ('0x' || substr(h, 1, 3))::INT AS a1r,
         |          ('0x' || substr(h, 4, 3))::INT AS a2r
         |        FROM (SELECT media_id, edited, noisy, ff.f,
         |                CAST(aid * ${graft.operators.Multimodal.SpectralFrames} + ff.f AS VARCHAR) AS k,
         |                md5(CAST(aid * ${graft.operators.Multimodal.SpectralFrames} + ff.f AS VARCHAR) || 'a') AS h
         |              FROM media CROSS JOIN
         |                (SELECT unnest(range(0, ${graft.operators.Multimodal.SpectralFrames})) AS f) ff) ff)),
         |bits AS (
         |  SELECT c.media_id,
         |    CASE WHEN n.a1 > c.a1 THEN (CAST(1 AS BIGINT) << c.f)
         |      ELSE CAST(0 AS BIGINT) END
         |    + CASE WHEN n.a2 > c.a2 THEN (CAST(1 AS BIGINT) << (${graft.operators.Multimodal.SpectralFrames - 1} + c.f))
         |      ELSE CAST(0 AS BIGINT) END AS bit
         |  FROM amps c JOIN amps n
         |    ON n.media_id = c.media_id AND n.f = c.f + 1),
         |hashes AS (
         |  SELECT media_id AS doc, CAST(sum(bit) AS BIGINT) AS simhash
         |  FROM bits GROUP BY 1),
         |${graft.operators.Dedup.simhashBandSql("hashes", graft.operators.Multimodal.FpBits, 64)}""".stripMargin,
  )
}
