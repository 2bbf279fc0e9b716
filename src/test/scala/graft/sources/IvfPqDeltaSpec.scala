package graft.sources

import graft.SparkSpec
import graft.queries.SimilarityQueries
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Incremental IVF-PQ code-layout maintenance (ann_ivfpq_delta): the code
  * append must (a) never touch yesterday's files, (b) land new files only in
  * the delta's cells, and (c) be invisible to the probe path — served results
  * equal the from-scratch code layout's (both quantizers frozen). The
  * vector-layout twin of these properties is IvfDeltaSpec. */
class IvfPqDeltaSpec extends SparkSpec {

  /** (relative path → bytes) for every parquet data file under `root`. */
  private def dataFiles(root: Path): Map[String, Seq[Byte]] =
    Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
        .toMap
    }

  test("code append leaves base files byte-identical; new files land only in delta cells") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ivfpq_delta")
    val base = (0L until 16L).map(i => (i, Array.fill(8)(i.toInt), i % 4))
      .toDF("vec_id", "codes", "cell")
    val delta = (16L until 20L).map(i => (i, Array.fill(8)(i.toInt), i % 2))
      .toDF("vec_id", "codes", "cell") // delta touches cells 0 and 1 only
    Sources.writePartitioned(base, root.toString, "cell")
    val before = dataFiles(root)
    Sources.appendIvfPqLayout(delta, root.toString)
    val after = dataFiles(root)
    before.foreach { case (rel, bytes) =>
      assert(after.get(rel).contains(bytes), s"base file $rel changed by append")
    }
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty)
    assert(added.forall(p => p.startsWith("cell=0/") || p.startsWith("cell=1/")),
      s"delta files outside delta cells: $added")
    val got = spark.read.parquet(root.toString)
      .select("vec_id").as[Long].collect().toSet
    assert(got == (0L until 20L).toSet)
  }

  test("served top-k over the delta-appended code layout equals the from-scratch one") {
    val rebuilt = SimilarityQueries.annIvfPqPruned(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    val delta = SimilarityQueries.annIvfPqDelta(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(delta == rebuilt) // the append seam is invisible to probes
  }

  test("repeat invocation serves from the cached layout without duplicating rows") {
    val n1 = SimilarityQueries.annIvfPqDelta(spark, sf("sf0.001")).count()
    val n2 = SimilarityQueries.annIvfPqDelta(spark, sf("sf0.001")).count()
    assert(n1 == n2) // a second append would double-count the delta
  }

  test("ann_ivfpq_gdpr: doomed ids absent from the code layout and from results") {
    import org.apache.spark.sql.functions.col
    // sf0.1 (2k vectors): the stride (every 97th id above the 256 codebook
    // rows) dooms ~18 ids here vs 3 at sf0.001 — enough doomed cells for the
    // partition-rewrite path to be meaningfully exercised (the oracle gate
    // still covers the small-SF cases)
    val dir = sf("sf0.1")
    graft.operators.Artifacts.clear()
    val res = SimilarityQueries.annIvfPqGdpr(spark, dir)
    val mod = SimilarityQueries.NswGdprMod
    val cb = SimilarityQueries.PqNumCodes
    val doomedServed = res.where(
      col("neighbor_id") % mod === 0 && col("neighbor_id") >= cb).count()
    assert(doomedServed == 0, "a deleted vector was served as a neighbor")
    val layout = graft.operators.Artifacts.sharedPath(spark, s"ivfpq_gdpr:$dir")(_ =>
      fail("layout missing — expected it cached from the serve"))
    val codes = spark.read.parquet(layout)
    assert(codes.where(col("vec_id") % mod === 0 && col("vec_id") >= cb).count() == 0,
      "doomed codes still present in the serving layout")
    val total = spark.read.parquet(dir + "/embeddings.parquet").count()
    assert(codes.count() < total,
      "GDPR stride deleted nothing at sf0.1 — test is vacuous")
  }
}
