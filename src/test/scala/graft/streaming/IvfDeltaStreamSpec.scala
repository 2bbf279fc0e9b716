package graft.streaming

import graft.SparkSpec
import graft.queries.SimilarityQueries
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Continuous ANN index maintenance (ann_ivf_delta_stream): streamed
  * arrivals land as per-batch segments beside the immutable base layout.
  * The oracle gate proves the served result equals the full-corpus batch
  * serve; this spec pins the STREAMING/LAYOUT claims the oracle can't see:
  * the run crosses micro-batch boundaries, every batch got its own segment,
  * base files are never touched, and replay is byte-idempotent. */
class IvfDeltaStreamSpec extends SparkSpec {

  private def fileState(root: Path): Map[String, Long] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("stream-maintained index == batch ann_ivf; per-batch segments; base untouched") {
    val dir = sf("sf0.001")
    graft.operators.Artifacts.clear()
    val streamed = SimilarityQueries.annIvfDeltaStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = SimilarityQueries.annIvf(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "segment hop changed a neighbor")
    val root = SimilarityQueries.annIvfDeltaStreamRoot
    // >1 real micro-batch (maxFilesPerTrigger=1 over 3 input files)
    val offsets = root.resolve("ckpt/offsets")
    assert(Files.exists(offsets), s"no checkpoint offsets at $offsets")
    assert(Files.list(offsets).count() > 1, "expected multiple micro-batches")
    // each batch wrote its own segment directory, partitioned by cell
    val segs = Files.list(root.resolve("seg")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSeq
    assert(segs.size > 1, s"expected >1 segment dir, saw $segs")
    segs.foreach { b =>
      val cells = Files.list(root.resolve("seg").resolve(b)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("cell=")).toSeq
      assert(cells.nonEmpty, s"segment $b has no cell partitions")
    }
  }

  test("segment compaction (appendIvfLayout) folds segments into the base; serve input unchanged") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    graft.operators.Artifacts.clear()
    SimilarityQueries.annIvfDeltaStream(spark, dir).collect()
    val root = SimilarityQueries.annIvfDeltaStreamRoot
    val base = java.nio.file.Paths.get(
      graft.operators.Artifacts.sharedPath(spark, s"ivf_base90:$dir")(_ =>
        fail("base artifact missing — expected it cached from the run")))
    // compact into a COPY of the base (the shared artifact must stay
    // pristine for other tests), as a real compactor would off the write path
    val compacted = Files.createTempDirectory("graft_ivf_compacted")
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val to = compacted.resolve(base.relativize(f).toString)
      Files.createDirectories(to.getParent)
      Files.copy(f, to)
    }
    val segRows = spark.read.parquet(root.resolve("seg").toString).drop("batch")
    graft.sources.Sources.appendIvfLayout(segRows, compacted.toString)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("v"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSet
    val unioned = rows(base.toString) ++ rows(root.resolve("seg").toString)
    assert(rows(compacted.toString) == unioned,
      "compaction changed the serve input (base ∪ segments)")
  }

  test("restart replay is idempotent and never rewrites the base layout") {
    val dir = sf("sf0.001")
    graft.operators.Artifacts.clear()
    val first = SimilarityQueries.annIvfDeltaStream(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString).toVector
    // the base artifact survives Artifacts' session cache between runs —
    // capture its exact file set + mtimes, then replay the whole stream
    val base = java.nio.file.Paths.get(
      graft.operators.Artifacts.sharedPath(spark, s"ivf_base90:$dir")(_ => fail(
        "base artifact missing — expected it cached from the first run")))
    val before = fileState(base)
    val second = SimilarityQueries.annIvfDeltaStream(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString).toVector
    assert(first == second, "stream replay duplicated or changed rows")
    val after = fileState(base)
    assert(before == after,
      "base layout files were rewritten by the streaming maintenance path")
  }
}
