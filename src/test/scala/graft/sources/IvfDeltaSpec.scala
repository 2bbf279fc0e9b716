package graft.sources

import graft.SparkSpec
import graft.queries.SimilarityQueries
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Incremental IVF layout maintenance (ann_ivf_delta): the delta append must
  * (a) never touch yesterday's files, (b) land new files only in the delta's
  * cells, and (c) be invisible to the probe path — served results equal the
  * full-rebuild layout's. */
class IvfDeltaSpec extends SparkSpec {

  /** (relative path → bytes) for every parquet data file under `root`. */
  private def dataFiles(root: Path): Map[String, Seq[Byte]] =
    Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
        .toMap
    }

  test("append leaves base files byte-identical; new files land only in delta cells") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ivf_delta")
    val base = (0L until 16L).map(i => (i, Array.fill(4)(i.toDouble), i % 4))
      .toDF("vec_id", "v", "cell")
    val delta = (16L until 20L).map(i => (i, Array.fill(4)(i.toDouble), i % 2))
      .toDF("vec_id", "v", "cell") // delta touches cells 0 and 1 only
    Sources.writeIvfLayout(base, root.toString)
    val before = dataFiles(root)
    Sources.appendIvfLayout(delta, root.toString)
    val after = dataFiles(root)
    // every base file survives byte-identical — no rewrite, no rebalance
    before.foreach { case (rel, bytes) =>
      assert(after.get(rel).contains(bytes), s"base file $rel changed by append")
    }
    // new files appear ONLY under the delta's cell directories
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty)
    assert(added.forall(p => p.startsWith("cell=0/") || p.startsWith("cell=1/")),
      s"delta files outside delta cells: $added")
    // the layout now serves base ∪ delta exactly
    val got = spark.read.parquet(root.toString)
      .select("vec_id").as[Long].collect().toSet
    assert(got == (0L until 20L).toSet)
  }

  test("served top-k over the delta-appended layout equals the rebuilt layout") {
    val rebuilt = SimilarityQueries.annIvfPruned(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    val delta = SimilarityQueries.annIvfDelta(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(delta == rebuilt) // the append seam is invisible to probes
  }

  test("repeat invocation serves from the cached layout without duplicating rows") {
    val n1 = SimilarityQueries.annIvfDelta(spark, sf("sf0.001")).count()
    val n2 = SimilarityQueries.annIvfDelta(spark, sf("sf0.001")).count()
    assert(n1 == n2) // a second append would double-count the delta
  }

  test("GDPR delete through the IVF layout equals a rebuild from survivors") {
    import spark.implicits._
    // the serving-index leg of the right-to-be-forgotten cascade: with the
    // coarse quantizer frozen, surgically deleting doomed vec_ids from the
    // cell-partitioned layout (deletePartitioned) must be indistinguishable
    // from rebuilding the layout over the surviving vectors — and cells
    // holding no doomed vector must keep byte-identical files
    val root = Files.createTempDirectory("graft_ivf_gdpr")
    val rebuiltRoot = Files.createTempDirectory("graft_ivf_gdpr_rebuild")
    val vecs = (0L until 40L).map(i => (i, Array.fill(4)(i.toDouble), i % 5))
      .toDF("vec_id", "v", "cell")
    // doomed ids live in cells 0 and 2 only; cells 1, 3, 4 are untouched
    val doomed = Seq(10L, 22L).toDF("vec_id")
    Sources.writeIvfLayout(vecs, root.toString)
    val before = dataFiles(root)
    Sources.deletePartitioned(spark, root.toString, "cell", "vec_id", doomed)
    val after = dataFiles(root)
    for (c <- Seq(1, 3, 4); (rel, bytes) <- before if rel.startsWith(s"cell=$c/"))
      assert(after.get(rel).contains(bytes), s"untouched cell file $rel rewritten")
    Sources.writeIvfLayout(
      vecs.where(!col("vec_id").isin(10L, 22L)), rebuiltRoot.toString)
    def served(p: Path) = spark.read.parquet(p.toString)
      .select(col("vec_id"), col("v"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSet
    assert(served(root) == served(rebuiltRoot),
      "surgical delete must equal rebuild-from-survivors")
  }

  test("ann_ivf_gdpr serve: doomed ids absent from layout and from results") {
    // end-to-end over real sf0.01 data: sf0.001's doomed stride is only 5
    // ids, usually confined to a couple of cells — sf0.01 dooms rows across
    // enough cells to exercise multi-directory surgical rewrites (the
    // oracle gate still covers the small-SF case)
    val dir = sf("sf0.01")
    graft.operators.Artifacts.clear()
    val res = SimilarityQueries.annIvfGdpr(spark, dir)
    val doomedServed = res.where(
      col("neighbor_id") % SimilarityQueries.NswGdprMod === 0 &&
        col("neighbor_id") >= 9).count()
    assert(doomedServed == 0, "a deleted vector was served as a neighbor")
    val layout = graft.operators.Artifacts.sharedPath(spark, s"ivf_gdpr:$dir")(_ =>
      fail("layout missing — expected it cached from the serve"))
    val left = spark.read.parquet(layout)
      .where(col("vec_id") % SimilarityQueries.NswGdprMod === 0 &&
        col("vec_id") >= 9).count()
    assert(left == 0, "doomed vectors still present in the serving layout")
    // and the delete really removed something at this SF
    val total = spark.read.parquet(dir + "/embeddings.parquet").count()
    assert(spark.read.parquet(layout).count() < total,
      "GDPR stride deleted nothing at sf0.01 — test is vacuous")
  }
}
