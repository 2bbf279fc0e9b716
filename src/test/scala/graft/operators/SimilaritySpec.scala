package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class SimilaritySpec extends SparkSpec {

  private def vecs(n: Int, d: Int, seed: Long) = {
    val rnd = new Random(seed)
    import spark.implicits._
    (0L until n).map(i => (i, Array.fill(d)(rnd.nextDouble()))).toDF("vec_id", "v")
  }

  test("bruteTopK returns exact cosine ranking, self excluded") {
    val pts = vecs(100, 8, 1)
    val probes = pts.where(col("vec_id") < 2).select(col("vec_id").as("probe_id"), col("v").as("p"))
    val out = Similarity.bruteTopK(pts, probes, 5).collect()
    assert(out.length == 10)
    assert(!out.exists(r => r.getLong(0) == r.getLong(2)))
    // verify against a driver-side naive ranking for probe 0
    val data = pts.collect().map(r => r.getLong(0) -> r.getAs[Seq[Double]](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val naive = data.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(data(0L), v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    val got = out.filter(_.getLong(0) == 0L).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(got == naive)
  }

  test("filteredTopK: every neighbor passes BOTH filters; pre-filter finds k where post-filter would not") {
    import spark.implicits._
    val rnd = new Random(7)
    val pts = (0L until 200).map(i => (i, Array.fill(8)(rnd.nextDouble()), (i % 4).toInt))
      .toDF("vec_id", "v", "label")
    val probes = pts.where(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("p"), col("label").as("plabel"))
    val allowed = (0L until 200).filter(_ % 2 == 0).toDF("id") // half the corpus
    val out = Similarity.filteredTopK(pts, probes, allowed, 10).collect()
    assert(out.length == 10) // label 0 ∩ even ids = 50 candidates — full k found
    val ids = out.map(_.getLong(2)).toSet
    assert(ids.forall(i => i % 4 == 0 && i % 2 == 0 && i != 0)) // label + allow-list + no self
    // post-filtering an UNfiltered top-10 would keep only the few survivors:
    val post = Similarity.bruteTopK(pts.select("vec_id", "v"),
        probes.select("probe_id", "p"), 10).collect()
      .map(_.getLong(2)).count(i => i % 4 == 0 && i % 2 == 0)
    assert(post < 10) // the recall loss the pre-filter form avoids
  }

  test("ivfTopK recall: nearest-2-cell candidates contain most true top-k") {
    val pts = vecs(300, 8, 2)
    val protos = pts.where(col("vec_id") < 4)
      .select(col("vec_id").as("cell"), col("v").as("c"))
    val assigned = pts.crossJoin(broadcast(protos))
      .select(col("vec_id"), col("v"), col("cell"),
        graft.functions.VectorSql.sqDistFast(col("v"), col("c")).as("d2"))
      .groupBy("vec_id").agg(min(struct(col("d2"), col("cell"))).as("m"), first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("m.cell").as("cell"))
    val probes = pts.where(col("vec_id") < 2).select(col("vec_id").as("probe_id"), col("v").as("p"))
    val ivf = Similarity.ivfTopK(assigned, protos.select(col("cell"), col("c")), probes, 10, 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.bruteTopK(pts, probes, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low for nprobe=2 of 4 cells")
  }

  test("sqrt-N cell scaling keeps in-cell pair growth sub-quadratic") {
    // With cells = centroidCount(N) ≈ √N, total within-cell pairs grow
    // ~N^1.5: quadrupling the corpus must multiply pairs by ~8, far below
    // the 16x a fixed cell count (O(N²/const)) would give.
    def pairCount(n: Int): Long = {
      val pts = vecs(n, 8, 5)
      val cells = graft.queries.SimilarityQueries.centroidCount(n)
      val protos = pts.where(col("vec_id") < cells)
        .select(col("vec_id").as("cell"), col("v").as("c"))
      pts.crossJoin(broadcast(protos))
        .select(col("vec_id"), col("cell"),
          graft.functions.VectorSql.sqDistFast(col("v"), col("c")).as("d2"))
        .groupBy("vec_id").agg(min(struct(col("d2"), col("cell"))).as("m"))
        .groupBy(col("m.cell")).count()
        .agg(sum(col("count") * (col("count") - 1)).as("pairs"))
        .head().getLong(0)
    }
    val small = pairCount(200)
    val big = pairCount(800)
    assert(small > 0)
    val ratio = big.toDouble / small
    assert(ratio < 12.0, s"pair growth $ratio approaches quadratic (16x)")
  }

  test("nearestInCell yields one best neighbor per vector above threshold") {
    val pts = vecs(50, 4, 3)
    val protos = pts.where(col("vec_id") < 2)
      .select(col("vec_id").as("cell"), col("v").as("c"))
    val assigned = pts.crossJoin(broadcast(protos))
      .select(col("vec_id"), col("v"), col("cell"),
        graft.functions.VectorSql.sqDistFast(col("v"), col("c")).as("d2"))
      .groupBy("vec_id").agg(min(struct(col("d2"), col("cell"))).as("m"), first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("m.cell").as("cell"))
    val out = Similarity.nearestInCell(assigned, minCos = -1.0).collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length, "one row per vector")
    assert(out.length == 50)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  /** n centered Gaussian vectors + every id<m duplicated (id+dupBase) with
    * tiny noise — planted near-dups at cos ≈ 1. */
  private def plantedCorpus(n: Int, m: Int, d: Int, seed: Long) = {
    val rnd = new Random(seed)
    import spark.implicits._
    val base = (0L until n).map(i => (i, Array.fill(d)(rnd.nextGaussian())))
    val dups = base.take(m).map { case (i, v) =>
      (100000L + i, v.map(_ + 0.001 * rnd.nextGaussian()))
    }
    (base ++ dups).toDF("vec_id", "v")
  }

  test("lshNearDupPairs finds exactly the planted near-dups at a high threshold") {
    val corpus = plantedCorpus(50, 5, 64, 11)
    val out = Similarity.lshNearDupPairs(corpus, minCos = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // random 64-dim Gaussian pairs have |cos| ~ 1/8 — nothing near 0.9;
    // every planted pair must survive both the banding and the confirm
    assert(out.map(t => (t._1, t._2)).toSet ==
      (0L until 5L).map(i => (i, 100000L + i)).toSet)
    assert(out.forall(_._3 >= 0.99))
  }

  /** Candidate pairs before the cosine confirm — the quantity whose growth
    * rate separates LSH from blocked all-pairs. */
  private def lshCandCount(points: org.apache.spark.sql.DataFrame): Long = {
    val sigs = Similarity.lshSignBands(points, nBits = 64, bands = 4)
    sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
  }

  test("bitsPerBand: integer ceil(log2 n)+2 with floor 8, stable at powers of 2") {
    assert(Similarity.bitsPerBand(0) == 8)
    assert(Similarity.bitsPerBand(1) == 8)
    assert(Similarity.bitsPerBand(200) == 10)   // ceil(log2 200)=8
    assert(Similarity.bitsPerBand(256) == 10)   // exactly 2^8 → 8, not 9
    assert(Similarity.bitsPerBand(257) == 11)
    assert(Similarity.bitsPerBand(500) == 11)
    assert(Similarity.bitsPerBand(20000) == 17)
    // key space must stay ≥ ~4x corpus so buckets don't saturate
    for (n <- Seq(100L, 1000L, 100000L, 10000000L))
      assert((1L << Similarity.bitsPerBand(n)) >= n * 2,
        s"key space too small at n=$n")
  }

  test("LSH candidate count grows ~linearly on a doubled corpus (vs N^1.5 blocking)") {
    // corpus = N random + N/10 planted dups; doubling N doubles the true
    // pairs. 16-bit bands put random collisions near zero (4 * 2^-16 per
    // pair), so candidates track the planted structure — linear — instead
    // of the ~4x a quadratic candidate stage would show.
    val base = lshCandCount(plantedCorpus(300, 30, 64, 21))
    val doubled = lshCandCount(plantedCorpus(600, 60, 64, 22))
    assert(base >= 30L, s"must at least find the 30 planted pairs, got $base")
    assert(doubled <= base * 28 / 10,
      s"candidate growth must stay ~linear: $base -> $doubled")
  }

  test("sharedPath: one write per session+key, concurrent sessions disjoint") {
    var writesA = 0
    val p1 = Artifacts.sharedPath(spark, "spec_layout:x") { dir =>
      writesA += 1
      new java.io.File(dir).mkdirs()
    }
    val p2 = Artifacts.sharedPath(spark, "spec_layout:x") { dir =>
      writesA += 1
      new java.io.File(dir).mkdirs()
    }
    assert(p1 == p2, "same session+key must reuse the layout path")
    assert(writesA == 1, "second invocation must NOT re-write the layout")
    // a different key (e.g. another SF dir) gets its own directory
    var writesB = 0
    val p3 = Artifacts.sharedPath(spark, "spec_layout:y") { dir =>
      writesB += 1
      new java.io.File(dir).mkdirs()
    }
    assert(p3 != p1 && writesB == 1)
    // the session UUID is baked into the path: two sessions can't clobber
    val uuid = org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(spark)
    assert(p1.contains(uuid))
    // clear() keeps layouts alive (persistent-index semantics)
    Artifacts.clear()
    var writesC = 0
    val p4 = Artifacts.sharedPath(spark, "spec_layout:x") { _ => writesC += 1 }
    assert(p4 == p1 && writesC == 0, "clear() must not evict live-session layouts")
  }
}
