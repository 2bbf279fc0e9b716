package graft.operators

import graft.SparkSpec
import graft.functions.{BmuFold, HalfUp}
import graft.functions.VectorSql._
import graft.queries.{SimilarityQueries, SomQueries}
import graft.som.{Grid, SOM}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Kmeans]] runs the SOM kernel ([[SOM.cellStats]] + [[SOM.smooth]] under a
  * one-cell neighborhood, [[BmuFold]] for every distance). The relational
  * fit and maximin seeding it replaced are kept here as the reference — a
  * broadcast cross join with a per-point `min(struct(m, cell))`, a
  * `Summarizer.sum` of the cells, and a cross join + `groupBy` +
  * `orderBy`/`limit(1)` per seed — and the kernel must reproduce their
  * seeds and centroids bit for bit (NaN payloads aside). */
class KmeansBitsSpec extends SparkSpec {

  // ---- the deleted relational forms --------------------------------------

  private def refMaximin(points: DataFrame, k: Int, spherical: Boolean): Array[Long] = {
    val first = points.select(min(col("vec_id"))).head().getLong(0)
    val ids = scala.collection.mutable.ArrayBuffer(first)
    while (ids.length < k) {
      val seeds = points.where(col("vec_id").isin(ids.toSeq: _*)).select(col("v").as("sv"))
      val prox =
        if (spherical) max(dotFast(col("v"), col("sv")) / (norm2Fast(col("v")) * norm2Fast(col("sv"))))
        else min(sqDistFast(col("v"), col("sv")))
      ids += points.where(!col("vec_id").isin(ids.toSeq: _*))
        .crossJoin(broadcast(seeds))
        .groupBy(col("vec_id")).agg(prox.as("prox"))
        .orderBy(if (spherical) col("prox").asc else col("prox").desc, col("vec_id").asc)
        .limit(1).head().getLong(0)
    }
    ids.toArray
  }

  private def refMaximinSampled(points: DataFrame, k: Int, spherical: Boolean,
                                ratePpm: Long): Array[Long] =
    if (ratePpm >= 1000000L) refMaximin(points, k, spherical)
    else {
      val sample = Kmeans.seedSample(points, ratePpm).select(col("vec_id"), col("v"))
        .localCheckpoint(eager = true)
      val n = sample.count()
      require(n >= k, s"seed sample has $n rows but k=$k seeds were requested")
      refMaximin(sample, k, spherical)
    }

  private def refLloyd(points: DataFrame, k: Int, iters: Int, spherical: Boolean,
                       firstKSeeds: Boolean = false,
                       seedRatePpm: Long = 1000000L): Array[Array[Double]] = {
    import spark.implicits._
    var protos: Array[Array[Double]] =
      if (firstKSeeds)
        points.where(col("vec_id") < k).orderBy("vec_id").collect()
          .map(_.getAs[Seq[Double]]("v").toArray.map(HalfUp.round(4)))
      else {
        val seedIds = refMaximinSampled(points, k, spherical, seedRatePpm)
        val byId = points.where(col("vec_id").isin(seedIds.toSeq: _*)).collect()
          .map(r => r.getLong(0) -> r.getAs[Seq[Double]]("v").toArray.map(HalfUp.round(4))).toMap
        seedIds.map(byId)
      }
    require(protos.length == k, s"need $k seed rows, got ${protos.length}")
    for (_ <- 0 until iters) {
      val protoDF = protos.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cell", "c")
      val m =
        if (spherical) -(dotFast(col("v"), col("c")) / (norm2Fast(col("v")) * norm2Fast(col("c"))))
        else sqDistFast(col("v"), col("c"))
      val assign = points.crossJoin(broadcast(protoDF))
        .select(col("vec_id"), col("v"), m.as("m"), col("cell"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("m"), col("cell"))).as("mm"), first(col("v")).as("v"))
        .select(col("mm.cell").as("cell"), col("v"))
      val sums = assign
        .select(col("cell"), org.apache.spark.ml.functions.array_to_vector(col("v")).as("fv"))
        .groupBy(col("cell"))
        .agg(org.apache.spark.ml.stat.Summarizer.sum(col("fv")).as("sv"), count(lit(1)).as("n"))
        .select(col("cell"), col("n"),
          posexplode(org.apache.spark.ml.functions.vector_to_array(col("sv"))).as(Seq("dim", "x")))
        .select(col("cell"), col("dim"), round(round(col("x"), 6) / col("n"), 4).as("nv"))
        .collect()
      val next = protos.map(_.clone())
      sums.foreach(r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2))
      protos = next
    }
    protos
  }

  // ---- corpora -----------------------------------------------------------

  private def sf0001: DataFrame = SomQueries.points(spark, sf("sf0.001"))

  /** KmeansSpec's planted-cluster corpus: 9 clusters of `n` 64-d rows, the
    * first 9 ids all in cluster 0. */
  private def clustered(n: Int): DataFrame = {
    import spark.implicits._
    def h(a: Int, b: Int, c: Int): Double = {
      val x = ((a * 1000003 + b) * 997 + c) * 2654435761L
      ((x % 1000).toDouble / 1000.0 - 0.5) * 0.2
    }
    (for (cl <- 0 until 9; i <- 0 until n) yield {
      val id = if (cl == 0) i.toLong else n + (cl - 1).toLong * n + i
      (id, Array.tabulate(64)(d => (if (d % 9 == cl) 5.0 else 0.0) + h(cl, i, d)))
    }).toDF("vec_id", "v").repartition(3)
  }

  /** 5-d rows (one block of four components plus a tail): exact duplicates
    * and positive multiples (cosine duplicates), points equidistant from
    * several others, components that are -0.0 in every row, and more rows
    * than directions, so with every row a seed cells empty. */
  private val tiesRows: Seq[(Long, Array[Double])] = Seq(
    0L -> Array(1.0, 0.0, 0.0, 0.0, -0.0), 1L -> Array(1.0, 0.0, 0.0, 0.0, -0.0),
    2L -> Array(2.0, 0.0, 0.0, 0.0, -0.0), 3L -> Array(-1.0, 0.0, 0.0, 0.0, -0.0),
    4L -> Array(0.0, 1.0, 0.0, 0.0, -0.0), 5L -> Array(0.0, -1.0, 0.0, 0.0, -0.0),
    6L -> Array(3.0, 3.0, 0.0, 0.0, -0.0), 7L -> Array(-3.0, 3.0, 0.0, 0.0, -0.0),
    8L -> Array(3.0, -3.0, 0.0, 0.0, -0.0), 9L -> Array(-3.0, -3.0, 0.0, 0.0, -0.0),
    10L -> Array(6.0, 6.0, 0.0, 0.0, -0.0), 11L -> Array(0.00004, -0.00004, 0.0, 1.0, -0.0),
    12L -> Array(0.0, 0.0, 0.0, 1.0, -0.0), 13L -> Array(0.0, 0.0, 0.0, 2.0, -0.0))

  private def df(rows: Seq[(Long, Array[Double])], partitions: Int = 2): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "v").repartition(partitions)
  }

  // ---- comparison --------------------------------------------------------

  /** Bits of every component; NaN payloads are not compared. */
  private def bits(cs: Array[Array[Double]]): Seq[Seq[Long]] =
    cs.toSeq.map(_.toSeq.map(java.lang.Double.doubleToLongBits))

  private def sameFit(points: DataFrame, k: Int, iters: Int, spherical: Boolean,
                      firstKSeeds: Boolean = false, seedRatePpm: Long = 1000000L): Array[Array[Double]] = {
    val got = Kmeans.fitLloyd(points, k, iters, spherical, firstKSeeds, seedRatePpm)
    val want = refLloyd(points, k, iters, spherical, firstKSeeds, seedRatePpm)
    assert(bits(got) == bits(want),
      s"k=$k iters=$iters spherical=$spherical firstK=$firstKSeeds rate=$seedRatePpm: " +
        s"${got.map(_.toSeq).toSeq} vs ${want.map(_.toSeq).toSeq}")
    got
  }

  private def sameSeeds(points: DataFrame, k: Int, spherical: Boolean,
                        ratePpm: Long = 1000000L): Array[Long] = {
    val got =
      if (ratePpm >= 1000000L) Kmeans.maximinSeeds(points, k, spherical)
      else Kmeans.maximinSeedsSampled(points, k, spherical, ratePpm)
    val want = refMaximinSampled(points, k, spherical, ratePpm)
    assert(got.toSeq == want.toSeq, s"k=$k spherical=$spherical rate=$ratePpm")
    got
  }

  private val half = SimilarityQueries.KmSeedPpm

  // ---- identity with the relational forms --------------------------------

  for ((name, corpus) <- Seq[(String, () => DataFrame)](
      "sf0.001 embeddings" -> (() => sf0001), "the planted-cluster corpus" -> (() => clustered(60))))
    test(s"$name: seeds and centroids equal the relational fit bit for bit, both metrics, full and sampled seeding") {
      val pts = corpus().localCheckpoint(eager = true)
      for (spherical <- Seq(false, true)) {
        sameSeeds(pts, 9, spherical)
        sameSeeds(pts, 9, spherical, half)
        sameFit(pts, 9, SimilarityQueries.KmIters, spherical)
        sameFit(pts, 9, SimilarityQueries.KmIters, spherical, seedRatePpm = half)
      }
      // the NSW entry seeds
      sameSeeds(pts, SimilarityQueries.NswEntries, spherical = true)
    }

  test("ties, duplicates, -0.0 components and emptied cells: equal the relational fit bit for bit") {
    val pts = df(tiesRows)
    for (spherical <- Seq(false, true)) {
      for (k <- Seq(3, 8, tiesRows.length)) {
        val seeds = sameSeeds(pts, k, spherical)
        assert(seeds.distinct.length == k, s"a chosen seed was re-selected: ${seeds.toSeq}")
        sameFit(pts, k, iters = 3, spherical)
      }
      sameFit(pts, 4, iters = 2, spherical, firstKSeeds = true)
      // with every row a seed, the duplicates' cells (rows 0 and 1 under
      // both metrics; 0, 1 and 2 under cosine) tie with a lower cell and
      // lose every point on the first iteration
      val seedRows = Kmeans.maximinSeeds(pts, tiesRows.length, spherical)
        .toSeq.map(id => tiesRows.toMap.apply(id).map(HalfUp.round(4)))
      val counts = SOM.cellStats(SOM.points(pts, "v"),
        if (spherical) BmuFold.cosine(seedRows) else BmuFold(seedRows)).counts
      assert(counts.contains(0L), s"no cell emptied: ${counts.toSeq}")
    }
    // -0.0 components come out as +0.0 in both forms (a cell's sum starts at
    // 0.0, and both roundings drop the sign of zero)
    assert(Kmeans.fitLloyd(pts, 3, 1, spherical = false).forall(c =>
      java.lang.Double.doubleToRawLongBits(c(4)) == 0L))
    assert(java.lang.Double.doubleToRawLongBits(0.0 + 1.0 * -0.0) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(HalfUp.round(6)(-0.0)) == 0L)
  }

  test("the KmeansSpec 6-row corpus: first-K and maximin seeding equal the relational fit") {
    val pts = df(Seq(
      0L -> Array(0.0, 0.0), 1L -> Array(0.0, 0.0), 2L -> Array(100.0, 0.0),
      3L -> Array(0.05, 0.1), 4L -> Array(100.1, 0.2), 5L -> Array(99.9, 0.1)))
    val a = sameFit(pts, 3, 1, spherical = false, firstKSeeds = true)
    assert(a(1).toSeq == Seq(0.0, 0.0) && a(0).toSeq == Seq(0.0167, 0.0333))
    sameFit(pts, 3, 2, spherical = false)
  }

  // ---- edge behaviours ---------------------------------------------------

  test("re-rounding a 4-decimal prototype is idempotent, so an emptied cell keeps its bits") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(200000)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 4)) ++
      Seq(0.0, -0.0, 0.00005, -0.00005, 0.99995, 2.675, -2.675, 1e15 + 0.5, Double.MinPositiveValue)
    xs.foreach { x =>
      val once = HalfUp.round(4)(x)
      assert(java.lang.Double.doubleToRawLongBits(HalfUp.round(4)(once)) ==
        java.lang.Double.doubleToRawLongBits(once), s"round(4) of $x = $once is not a fixed point")
    }
    // SOM.smooth under the one-cell neighborhood hands an empty cell's
    // 4-decimal prototype back unchanged
    val protos = Array(Vectors.dense(0.1234, -5.0001), Vectors.dense(7.5, 1e-4))
    val agg = SOM.CellAgg(2, 2).add(0, Vectors.dense(1.0, 2.0), 0.0)
    val (next, _) = SOM.smooth(agg, protos, Grid.neighborhood("rectangular", "rectangular", 1, 2, 0.0), 6, 4)
    assert(next(1).toArray.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      protos(1).toArray.toSeq.map(java.lang.Double.doubleToRawLongBits))
    assert(next(0).toArray.toSeq == Seq(1.0, 2.0))
  }

  test("cosine: a zero-norm row or centroid is rejected, naming it; the relational form throws under ANSI") {
    val zeroRow = df(tiesRows :+ (20L -> Array(0.0, 0.0, 0.0, 0.0, 0.0)))
    val zeroSeed = df(tiesRows.map { case (id, v) => (id, if (id == 1L) Array.fill(5)(0.0) else v) })
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean, "this spec assumes the default ANSI session")
    def divideByZero(e: Throwable): Boolean =
      e != null && (String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO") || divideByZero(e.getCause))
    for (pts <- Seq(zeroRow, zeroSeed)) {
      assert(divideByZero(intercept[Exception](refLloyd(pts, 3, 1, spherical = true, firstKSeeds = true))))
      assert(divideByZero(intercept[Exception](refMaximin(pts, 4, spherical = true))))
      val e = intercept[IllegalArgumentException](Kmeans.fitLloyd(pts, 3, 1, spherical = true, firstKSeeds = true))
      assert(e.getMessage.contains("cosine to prototype") && e.getMessage.contains("0.0"), e.getMessage)
      intercept[IllegalArgumentException](Kmeans.maximinSeeds(pts, 4, spherical = true))
    }
    // without ANSI the relational form divides to null and ranks it first
    // (a zero-norm seed captures every point); the kernel rejects either way
    withConf("spark.sql.ansi.enabled" -> "false") {
      assert(refLloyd(zeroSeed, 3, 1, spherical = true, firstKSeeds = true)(1).exists(_ != 0.0))
      intercept[IllegalArgumentException](Kmeans.fitLloyd(zeroSeed, 3, 1, spherical = true, firstKSeeds = true))
    }
    // squared L2 has no division: zero vectors are ordinary points
    sameFit(zeroRow, 3, 2, spherical = false)
    // the fold names the prototype and both norms
    val e = intercept[IllegalArgumentException](
      BmuFold.cosine(Seq(Array(1.0, 0.0), Array(0.0, 0.0))).argmin(Array(1.0, 1.0), new Array[Double](2)))
    assert(e.getMessage.contains("prototype 1") && e.getMessage.contains("the prototype 0.0"), e.getMessage)
  }

  test("NaN components keep the relational order at each site") {
    val nan = Double.NaN
    // row 5 holds a NaN: every distance from it is NaN
    val nanRow = df(tiesRows.map { case (id, v) => (id, if (id == 5L) Array(0.0, nan, 0.0, 0.0, 0.0) else v) })
    // Lloyd's min(struct(m, cell)) ranks a NaN distance last under both
    // metrics; maximin's min(d2) skips a NaN but the farthest-point pick
    // (prox DESC) puts an all-NaN point first, while max(cos) is NaN when any
    // cosine is and the nearest-first pick (prox ASC) puts it last
    for (spherical <- Seq(false, true)) {
      val seeds = sameSeeds(nanRow, 5, spherical)
      if (spherical) assert(!seeds.contains(5L), s"a NaN cosine was picked: ${seeds.toSeq}")
      else assert(seeds(1) == 5L, s"the all-NaN point must be the second seed: ${seeds.toSeq}")
      sameFit(nanRow, 5, 3, spherical)
      sameFit(nanRow, 4, 2, spherical, firstKSeeds = true)
    }
    // a NaN in the minimum-id row, seed 0: every distance to it is NaN
    val nanFirst = df(tiesRows.map { case (id, v) => (id, if (id == 0L) Array(nan, 0.0, 0.0, 0.0, 0.0) else v) })
    for (spherical <- Seq(false, true)) {
      sameSeeds(nanFirst, 5, spherical)
      sameFit(nanFirst, 5, 2, spherical)
    }
    // the fold itself: NaN never wins the argmin; all-NaN maps to (0, NaN)
    val acc = new Array[Double](3)
    val f = BmuFold.cosine(Seq(Array(nan, 1.0), Array(1.0, 1.0), Array(-1.0, 0.0)))
    assert(f.argmin(Array(1.0, 1.0), acc) == 1 && acc(0).isNaN)
    assert(f.argmin(Array(nan, 1.0), acc) == 0 && acc.forall(_.isNaN))
  }

  test("the cosine fold is -(dotFast / (norm2Fast * norm2Fast)) bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val protos = Seq.fill(7)(Array.fill(9)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(5) - 2)))
    val rows = Seq.fill(300)(Array.fill(9)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(5) - 2)))
    val want = rows.toDF("v").crossJoin(protos.zipWithIndex.toDF("c", "cell"))
      .select(col("v"), col("cell"), (-(dotFast(col("v"), col("c")) / (norm2Fast(col("v")) * norm2Fast(col("c"))))).as("m"))
      .collect().map(r => (r.getSeq[Double](0), r.getInt(1)) -> r.getDouble(2)).toMap
    val fold = BmuFold.cosine(protos)
    val acc = new Array[Double](protos.length)
    rows.foreach { x =>
      fold.argmin(x, acc)
      protos.indices.foreach { c =>
        assert(java.lang.Double.doubleToRawLongBits(acc(c)) ==
          java.lang.Double.doubleToRawLongBits(want((x.toSeq, c))))
      }
    }
  }
}
