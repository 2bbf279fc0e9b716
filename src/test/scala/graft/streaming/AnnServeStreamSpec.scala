package graft.streaming

import graft.SparkSpec
import graft.queries.SimilarityQueries
import java.nio.file.Files

/** Continuous ANN serving (ann_serve_stream): probe stream served per
  * micro-batch against the static IVF layout. The oracle gate proves the
  * result equals the batch serve; this spec pins the STREAMING claims the
  * oracle can't see — the run really crosses micro-batch boundaries, and
  * the per-batch sink is idempotent under re-execution. */
class AnnServeStreamSpec extends SparkSpec {

  test("stream serve == batch ann_ivf, across MULTIPLE real micro-batches") {
    val dir = sf("sf0.001")
    val streamed = SimilarityQueries.annServeStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = SimilarityQueries.annIvf(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "stream hop changed a neighbor")
    // the probe traffic was split across files with maxFilesPerTrigger=1 —
    // the checkpoint must show the run actually took >1 micro-batch (an
    // all-in-one-batch run would not exercise the batch-boundary claim)
    val offsets = SimilarityQueries.annServeStreamRoot.resolve("ckpt/offsets")
    assert(Files.exists(offsets), s"no checkpoint offsets at $offsets")
    val batches = Files.list(offsets).count()
    assert(batches > 1, s"expected multiple micro-batches, saw $batches")
  }

  test("composed lifecycle (ann_serve_stream_live): streamed probes against the stream-maintained index == batch ann_ivf; both streams multi-batch") {
    val dir = sf("sf0.001")
    graft.operators.Artifacts.clear()
    val live = SimilarityQueries.annServeStreamLive(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = SimilarityQueries.annIvf(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(live == batch, "the composed lifecycle changed a neighbor")
    val root = SimilarityQueries.annServeStreamLiveRoot
    for (ck <- Seq("index/ckpt/offsets", "serve/ckpt/offsets")) {
      val offsets = root.resolve(ck)
      assert(Files.exists(offsets), s"no checkpoint offsets at $offsets")
      assert(Files.list(offsets).count() > 1,
        s"$ck: expected multiple micro-batches")
    }
  }

  test("per-batch sink is idempotent: replaying ONE batch against the existing outDir leaves it unchanged") {
    val dir = sf("sf0.001")
    val first = SimilarityQueries.annServeStream(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString).toVector
    // a restart replays the last committed batch AGAINST THE EXISTING SINK:
    // re-invoke the foreachBatch body for that batchId — same serve, same
    // mode("overwrite") write into the same batch=<id> directory — and the
    // sink must hold exactly the same rows afterwards (no duplication, no
    // drift). This exercises the overwrite-in-place claim itself, not just
    // end-to-end determinism from a fresh checkpoint.
    val root = SimilarityQueries.annServeStreamRoot
    val outDir = root.resolve("out")
    import scala.jdk.CollectionConverters._
    val batchDirs = Files.list(outDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch=")).toVector
      .sortBy(_.getFileName.toString)
    assert(batchDirs.size > 1, "need multiple batch dirs for a meaningful replay")
    val target = batchDirs.last
    val batchId = target.getFileName.toString.stripPrefix("batch=")
    // the batch's probe set, reconstructed from what the sink recorded
    val servedIds = spark.read.parquet(target.toString)
      .select("probe_id").distinct().collect().map(_.getLong(0))
    val batchProbes = spark.read.parquet(root.resolve("in").toString)
      .where(org.apache.spark.sql.functions.col("probe_id")
        .isin(servedIds.toSeq: _*))
    val layout = graft.operators.Artifacts.sharedPath(spark, s"ivf_layout:$dir") { path =>
      graft.sources.Sources.writeIvfLayout(
        SimilarityQueries.assigned(spark, dir), path)
    }
    SimilarityQueries.serveIvfLayoutProbes(spark, dir, layout, batchProbes)
      .write.mode("overwrite").parquet(target.toString)
    val after = spark.read.parquet(outDir.toString)
      .select("probe_id", "rank", "neighbor_id", "cos_sim")
      .collect().map(_.toSeq).sortBy(_.toString).toVector
    assert(after == first, "batch replay duplicated or changed sink rows")
  }
}
