package graft.tools

import graft.sources.Tables
import graft.operators.{Dedup, Similarity}
import graft.queries.SomQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skew-cap audit over a (generated) corpus — the decade-out check that the
  * dedup/ANN guards keep binding LINEARLY as the corpus grows (r5 did this
  * at sf1 and caught the fixed-8-bit embedding-LSH saturation; this tool
  * makes the audit repeatable for sf10 and beyond). Prints, per guard:
  *
  *  - MinHash band buckets: bucket count, max df, buckets over the
  *    `maxBandDf = 64` star cap (expected ~0 on distinct texts).
  *  - SimHash chunk buckets: max df and over-cap bucket count (expected to
  *    BIND — templated docs share low chunks; the star fallback is what
  *    keeps the join linear).
  *  - Embedding LSH: corpus-adaptive `bitsPerBand`, candidate-pair count
  *    (expected ~linear in n), confirmed pairs.
  *  - dHash / audio-fp / video-fp chunk buckets for the multimodal corpora
  *    (the mm_image_dedup / mm_audio_dedup / mm_video_dedup guards).
  *
  * Usage: runMain graft.tools.CapAudit <sfDir>
  */
object CapAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.parquet(spark, s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    println(s"[capaudit] corpus: $nDocs docs")

    // shared chunk-bucket audit over the ADAPTIVE banding (the exact band
    // table simhashPairs joins on: block count from simhashBlockCount)
    def chunkAudit(label: String, hashes: org.apache.spark.sql.DataFrame,
                   bits: Int): Unit = {
      val h = hashes.localCheckpoint(true)
      val n = h.count()
      val b = Dedup.simhashBlockCount(bits, n)
      val st = Dedup.simhashChunks(h, bits, b, 3)
        .groupBy(col("chunk"), col("ckey"))
        .agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("buckets"), max(col("df")).as("max_df"),
          sum((col("df") > 64).cast("long")).as("over_cap"))
        .head()
      println(s"[capaudit] $label chunks: n=$n blocks=$b " +
        s"buckets=${st.getLong(0)} max_df=${st.getLong(1)} over_cap(64)=${st.getLong(2)}")
    }

    // ---- MinHash band buckets (lshCandidates' maxBandDf = 64 guard)
    val banded = Dedup.bandedTable(
      Dedup.minhashSignatures(Dedup.docShinglesRaw(docs, "doc_id", "text")))
    val bandStats = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("buckets"), max(col("df")).as("max_df"),
        sum((col("df") > 64).cast("long")).as("over_cap"))
      .head()
    println(s"[capaudit] minhash bands: buckets=${bandStats.getLong(0)} " +
      s"max_df=${bandStats.getLong(1)} over_cap(64)=${bandStats.getLong(2)}")

    // ---- SimHash chunk buckets (simhashPairs' maxChunkDf = 64 guard)
    chunkAudit("simhash", Dedup.simhash(docs, "doc_id", "text"), Dedup.SimhashBits)

    // ---- Embedding LSH (corpus-adaptive bitsPerBand)
    val pts = SomQueries.points(spark, sfDir)
    val nVec = pts.count()
    val bpb = Similarity.bitsPerBand(nVec)
    val sigs = Similarity.lshSignBands(pts, nBits = 8 * bpb, bands = 8)
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
    println(s"[capaudit] embedding lsh: n=$nVec bitsPerBand=$bpb " +
      s"candidates=$cand (cand/n=${cand.toDouble / nVec})")

    // ---- image dHash chunk buckets (mm_image_dedup's maxChunkDf = 64)
    chunkAudit("dhash",
      graft.queries.MultimodalQueries.mmImageDedupHashes(spark, sfDir),
      graft.operators.Multimodal.FpBits)

    // ---- audio fingerprint chunk buckets (mm_audio_dedup's maxChunkDf = 64)
    chunkAudit("audio fp",
      graft.queries.MultimodalQueries.mmAudioDedupHashes(spark, sfDir),
      graft.operators.Multimodal.FpBits)

    // ---- video fingerprint chunk buckets (mm_video_dedup's maxChunkDf = 64)
    chunkAudit("video fp",
      graft.queries.MultimodalQueries.mmVideoDedupHashes(spark, sfDir),
      graft.operators.Multimodal.FpBits)

    // ---- r8 spectral families (mm_image_dedup_phash / mm_audio_dedup_spectral)
    chunkAudit("phash",
      graft.queries.MultimodalQueries.mmImagePhashHashes(spark, sfDir),
      graft.operators.Multimodal.FpBits)
    chunkAudit("audio spectral fp",
      graft.queries.MultimodalQueries.mmAudioSpectralHashes(spark, sfDir),
      graft.operators.Multimodal.FpBits)

    spark.stop()
  }
}
