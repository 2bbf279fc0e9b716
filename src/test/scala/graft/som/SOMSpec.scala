package graft.som

import graft.SparkSpec
import graft.functions.{ArrayArgminSqDist, BmuFold, HalfUp}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{DenseVector, SQLDataTypes, SparseVector, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, UserDefinedType}
import scala.util.Random

class SOMSpec extends SparkSpec {

  private def demoDF(n: Int = 2000, d: Int = 3, seed: Long = 7) = {
    // Seeded version of the reference's demo fixture (reference
    // `som/SOM.scala:409-413`): uniform random d-dim points.
    val rnd = new Random(seed)
    val rows = Seq.fill(n)((0.0, Vectors.dense(Array.fill(d)(rnd.nextDouble()))))
    import spark.implicits._
    rows.toDF("label", "features")
  }

  /** (index, squared distance) of the BMU kernel for one row. */
  private def kernel(protos: Seq[Array[Double]], x: Array[Double]): (Int, Double) = {
    val fold = BmuFold(protos)
    val acc = new Array[Double](fold.k)
    val cell = fold.argmin(x, acc)
    (cell, acc(cell))
  }
  private def nearest(protos: Array[Vector], p: Vector): (Int, Double) =
    kernel(protos.map(_.toArray).toSeq, p.toArray)

  // The assertions of the deleted norm-pruned `findClosest`, on the kernel
  // that replaced it.
  test("findClosest equals naive argmin with min-index tie-break") {
    val rnd = new Random(1)
    val protos = Array.fill(25)(Vectors.dense(Array.fill(8)(rnd.nextDouble())))
    for (_ <- 0 until 200) {
      val p = Vectors.dense(Array.fill(8)(rnd.nextDouble()))
      val (bmu, d2) = nearest(protos, p)
      val naive = protos.map(c => Vectors.sqdist(c, p)).zipWithIndex.minBy { case (d, i) => (d, i) }
      assert(bmu == naive._2)
      assert(math.abs(d2 - naive._1) < 1e-12)
    }
    // exact tie: duplicate prototypes -> lowest index wins
    val dup = Array(protos(3), protos(3), protos(3))
    assert(nearest(dup, protos(3))._1 == 0)
  }

  /** The reference argmin: each distance is `Vectors.sqdist` of the dense
    * vectors, then one index-order pass keeps the first strictly smaller
    * non-NaN distance — `array_position(d, array_min(d))`'s order, NaN
    * last, (0, NaN) when no distance is a number. */
  private def naiveNearest(protos: Seq[Array[Double]], x: Array[Double]): (Int, Double) = {
    val d = protos.map(c => Vectors.sqdist(Vectors.dense(c), Vectors.dense(x)))
    var best = 0
    for (i <- d.indices) if (!d(i).isNaN && (d(best).isNaN || d(i) < d(best))) best = i
    (best, d(best))
  }

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)

  /** The `ArrayArgminSqDist` expression's (cell, distance) per row, through
    * the generated and the interpreted projection, on the rows as
    * `array<double>` and as VectorUDT (sparse when `sparse`). One projection
    * scores all rows, so the generated code's distance buffer is reused. */
  private def expressionRuns(fold: BmuFold, rows: Seq[Array[Double]],
                             sparse: Boolean): Seq[(String, Seq[(Int, Double)])] = {
    val udt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
    val inputs = Seq[(String, DataType, Array[Double] => Any)](
      ("array", ArrayType(DoubleType, containsNull = false), UnsafeArrayData.fromPrimitiveArray(_)),
      ("vector", SQLDataTypes.VectorType,
        x => udt.serialize(if (sparse) Vectors.dense(x).toSparse else Vectors.dense(x))))
    val projections = Seq[(String, Seq[Expression] => InternalRow => InternalRow)](
      "generated" -> (e => GenerateUnsafeProjection.generate(e)),
      "interpreted" -> (e => InterpretedUnsafeProjection.createProjection(e)))
    for ((input, dt, encode) <- inputs; (mode, project) <- projections) yield {
      val in = BoundReference(0, dt, nullable = true)
      val score = project(Seq(ArrayArgminSqDist(in, fold), ArrayArgminSqDist(in, fold, distance = true)))
      s"$mode $input" -> rows.map { x => val out = score(InternalRow(encode(x))); (out.getInt(0), out.getDouble(1)) }
    }
  }

  /** Every way the kernel is reached gives every row the reference's index
    * and distance bits (a NaN distance: NaN): [[BmuFold.argmin]] with one
    * buffer across the rows, as the fit's scan calls it, and the expression
    * on both eval paths and both input types. */
  private def assertKernel(protos: Seq[Array[Double]], rows: Seq[Array[Double]],
                           clue: String, sparse: Boolean = false): Unit = {
    val fold = BmuFold(protos)
    val acc = new Array[Double](fold.k)
    val direct = rows.map { x => val cell = fold.argmin(x, acc); (cell, acc(cell)) }
    val want = rows.map(naiveNearest(protos, _))
    for ((path, got) <- ("kernel" -> direct) +: expressionRuns(fold, rows, sparse)) {
      assert(got.length == rows.length, s"$clue, $path")
      for ((((cell, d2), (wantCell, wantD2)), r) <- got.zip(want).zipWithIndex)
        assert(cell == wantCell && (if (wantD2.isNaN) d2.isNaN else sameBits(d2, wantD2)),
          s"$clue, $path, row $r: ($cell, $d2) vs ($wantCell, $wantD2)")
    }
  }

  test("BMU kernel: every K mod 4 tail, the bit-exact distance, first minimum across lanes and blocks") {
    val rnd = new Random(3)
    for (k <- (1 to 9) :+ 400; dim <- Seq(1, 2, 3, 5, 7, 64)) {
      val protos = Seq.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
      val rows = Seq.fill(50)(Array.fill(dim)(rnd.nextGaussian()))
      assertKernel(protos, rows, s"K=$k d=$dim")
      for (x <- rows) {
        val (bmu, d2) = kernel(protos, x)
        assert(sameBits(d2, Vectors.sqdist(Vectors.dense(protos(bmu)), Vectors.dense(x))))
      }
    }
    // an exact tie between any two of K=9 cells goes to the lower index;
    // every other cell is farther away
    for (i <- 0 until 9; j <- i + 1 until 9) {
      val protos = Seq.tabulate(9)(c => if (c == i || c == j) Array(0.5, -2.0) else Array(c + 1.0, 3.0))
      assert(kernel(protos, Array(0.5, -1.0)) == ((i, 1.0)), s"tie $i/$j")
      assertKernel(protos, Seq(Array(0.5, -1.0)), s"tie $i/$j")
    }
  }

  test("BMU kernel on NaN and ±∞ rows: the reference argmin, NaN ordered last") {
    val inf = Double.PositiveInfinity
    val nan = Double.NaN
    val protos = Seq(Array(inf, 0.0), Array(0.0, 0.0), Array(0.0, 0.0), Array(1.0, 1.0),
      Array(-inf, 0.0), Array(nan, 0.0), Array(0.0, inf))
    val rows = Seq(Array(0.0, 0.0), Array(inf, 0.0), Array(nan, 0.0), Array(-inf, 0.0),
      Array(0.9, 1.2), Array(inf, inf), Array(-inf, -inf), Array(0.0, -inf))
    for (k <- 1 to protos.length) assertKernel(protos.take(k), rows, s"K=$k")
    // (∞, 0) against K=3: distances NaN, ∞, ∞ -> the first ∞; (NaN, 0) has no number
    assert(kernel(protos.take(3), Array(inf, 0.0)) == ((1, inf)))
    val (cell, d2) = kernel(protos, Array(nan, 0.0))
    assert(cell == 0 && d2.isNaN)
  }

  test("fit produces a full grid model with decreasing-ish objective") {
    val df = demoDF()
    // Mild temperatures: with a cooled schedule the quantization error must
    // improve on the random init. (With large tMax the early wide-neighborhood
    // iterations legitimately *raise* quantization error — topology first.)
    val som = new SOM().setHeight(3).setWidth(3).setMaxIter(15)
      .setTMax(2.0).setTMin(0.5).setSeed(42)
    val model = som.fit(df)
    assert(model.prototypes.length == 9)
    assert(model.hasSummary)
    val hist = model.objectiveHistory
    assert(hist.nonEmpty && hist.length <= 15)
    assert(hist.forall(_ > 0))
    assert(hist.last < hist.head)
    assert(model.summary.numIter == hist.length)
  }

  test("training summary times each iteration's scan and driver update") {
    val model = new SOM().setHeight(3).setWidth(3).setMaxIter(4).setTol(0.0).setSeed(42).fit(demoDF(500))
    val s = model.summary
    assert(s.numIter == 4)
    for (secs <- Seq(s.iterationScanSeconds, s.iterationUpdateSeconds)) {
      assert(secs.length == s.numIter)
      assert(secs.forall(_ >= 0.0))
    }
    assert(s.iterationScanSeconds.forall(_ > 0.0)) // each scan is a Spark job
  }

  test("hexagonal topology trains and differs from rectangular") {
    val df = demoDF()
    def fitWith(topo: String) = new SOM().setHeight(3).setWidth(3).setMaxIter(8)
      .setTMax(2.0).setTMin(0.5).setSeed(42).setTopology(topo).fit(df)
    val hex = fitWith("hexagonal")
    val rect = fitWith("rectangular")
    assert(hex.prototypes.length == 9)
    assert(hex.objectiveHistory.last < hex.objectiveHistory.head)
    // same seed/init, different neighborhood metric -> different maps
    assert(hex.prototypes.zip(rect.prototypes)
      .exists { case (a, b) => Vectors.sqdist(a, b) > 0.0 })
    intercept[IllegalArgumentException](new SOM().setTopology("toroidal"))
  }

  test("fit is deterministic for a fixed seed") {
    val df = demoDF()
    val m1 = new SOM().setHeight(3).setWidth(3).setMaxIter(5).setSeed(42).fit(df)
    val m2 = new SOM().setHeight(3).setWidth(3).setMaxIter(5).setSeed(42).fit(df)
    m1.prototypes.zip(m2.prototypes).foreach { case (a, b) =>
      assert(Vectors.sqdist(a, b) == 0.0)
    }
  }

  test("transform appends an IntegerType prediction in [0, K)") {
    val df = demoDF(500)
    val model = new SOM().setHeight(3).setWidth(4).setMaxIter(3).setSeed(1).fit(df)
    val out = model.transform(df)
    assert(out.columns.toSeq == Seq("label", "features", "prediction"))
    assert(out.schema("prediction").dataType == org.apache.spark.sql.types.IntegerType)
    val preds = out.select("prediction").distinct().collect().map(_.getInt(0))
    assert(preds.forall(p => p >= 0 && p < 12))
  }

  test("transform refuses an existing prediction column") {
    val df = demoDF(50).withColumnRenamed("label", "prediction")
    val model = new SOM().setHeight(2).setWidth(2).setMaxIter(1).setSeed(1).fit(demoDF(50))
    intercept[IllegalArgumentException](model.transform(df))
  }

  test("computeCost equals sum of per-point min squared distances") {
    val df = demoDF(300)
    val model = new SOM().setHeight(2).setWidth(2).setMaxIter(3).setSeed(5).fit(df)
    val cost = model.computeCost(df)
    val protos = model.prototypes
    val naive = df.select("features").collect().map { r =>
      val v = r.getAs[Vector](0)
      protos.map(c => Vectors.sqdist(c, v)).min
    }.sum
    assert(math.abs(cost - naive) / naive < 1e-9)
    assert(cost >= 0)
  }

  test("maxIter=0 skips training and keeps the sampled init (reference edge)") {
    val df = demoDF(100)
    val model = new SOM().setHeight(2).setWidth(2).setMaxIter(0).setSeed(9).fit(df)
    assert(model.prototypes.length == 4)
    assert(model.objectiveHistory.isEmpty)
  }

  test("warm start via setInitialModel reuses prototypes") {
    val df = demoDF(200)
    val m0 = new SOM().setHeight(2).setWidth(2).setMaxIter(2).setSeed(3).fit(df)
    val m1 = new SOM().setHeight(2).setWidth(2).setMaxIter(0).setInitialModel(m0).fit(df)
    m0.prototypes.zip(m1.prototypes).foreach { case (a, b) => assert(Vectors.sqdist(a, b) == 0.0) }
    // grid-size mismatch is rejected (reference bug fixed, SURVEY §7.3.2)
    intercept[IllegalArgumentException](new SOM().setHeight(3).setWidth(3).setInitialModel(m0))
  }

  test("array<float> and array<double> feature columns work end-to-end") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .withColumnRenamed("embedding", "features")
    val model = new SOM().setHeight(3).setWidth(3).setMaxIter(3).setSeed(11).fit(emb)
    val out = model.transform(emb)
    assert(out.where(org.apache.spark.sql.functions.col("prediction").isNotNull).count() == emb.count())
    val cost = model.computeCost(emb)
    assert(cost > 0)
  }

  test("model save/load round-trips prototypes") {
    val df = demoDF(100)
    val m = new SOM().setHeight(2).setWidth(3).setMaxIter(2).setSeed(4).fit(df)
    val path = java.nio.file.Files.createTempDirectory("sommodel").toString + "/m"
    m.write.overwrite().save(path)
    val loaded = SOMModel.load(path)
    assert(loaded.getHeight == 2 && loaded.getWidth == 3)
    m.prototypes.zip(loaded.prototypes).foreach { case (a, b) => assert(Vectors.sqdist(a, b) == 0.0) }
  }

  test("VectorAssembler -> SOM pipeline clusters TPC-H numerics end-to-end") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.VectorAssembler
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select("l_quantity", "l_extendedprice", "l_discount")
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount"))
        .setOutputCol("features"),
      new SOM().setHeight(3).setWidth(3).setMaxIter(3).setSeed(2)))
    val out = pipe.fit(li).transform(li)
    assert(out.count() == li.count())
    assert(out.select("prediction").distinct().count() > 1)
  }

  test("SOM composes into an org.apache.spark.ml.Pipeline") {
    import org.apache.spark.ml.Pipeline
    val df = demoDF(300)
    val pipe = new Pipeline().setStages(Array(
      new SOM().setHeight(2).setWidth(2).setMaxIter(3).setSeed(21)))
    val model = pipe.fit(df)
    val out = model.transform(df)
    assert(out.columns.contains("prediction"))
    assert(out.count() == 300)
  }

  test("array and VectorUDT scoring equal a brute-force argmin on the embeddings") {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("features"))
    val vec = emb.select(col("vec_id"), array_to_vector(col("features")).as("features"))
    val model = new SOM().setHeight(3).setWidth(3).setMaxIter(3).setSeed(11).fit(emb)
    val protos = model.prototypes
    val rows = emb.collect().map(r => r.getLong(0) -> Vectors.dense(r.getSeq[Double](1).toArray))
    val brute = rows.map { case (id, v) => id -> protos.indices.minBy(c => (Vectors.sqdist(protos(c), v), c)) }.toMap
    val bruteCost = rows.map { case (_, v) => protos.map(Vectors.sqdist(_, v)).min }.sum
    def scored(df: org.apache.spark.sql.DataFrame) =
      model.transform(df).select("vec_id", "prediction").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // features(ArrayData) and features(InternalRow): the two decode paths
    for (df <- Seq(emb, vec)) {
      val (gen, interp) = codegenAndInterpreted((scored(df), model.computeCost(df)))
      assert(gen._1 == brute && interp._1 == brute)
      assert(sameBits(gen._2, interp._2))
      assert(math.abs(gen._2 - bruteCost) <= 1e-9 * bruteCost)
    }
    assert(sameBits(model.computeCost(emb), model.computeCost(vec)))
    assert(brute.values.toSet.size > 1)
  }

  /** Runs `body` once with codegen that must compile (no silent
    * interpreted fallback), once fully interpreted. */
  private def codegenAndInterpreted[T](body: => T): (T, T) = (
    withConf("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body),
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body))

  /** A side×side model over the 64-d embeddings: prototype i is 0.9×
    * embedding row i, except that each odd cell in the upper half repeats
    * the prototype K/2 cells below it, so rows nearest such a pair tie. */
  private def embeddingModel(side: Int): SOMModel = {
    val rows = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .orderBy("vec_id").limit(side * side).collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_ * 0.9).toArray)
    val k = rows.length
    val protos = Array.tabulate(k)(i => if (i >= k / 2 && i % 2 == 1) rows(i - k / 2) else rows(i))
    new SOMModel("som_emb", protos.map(Vectors.dense)).setGrid(side, side)
  }

  for (side <- Seq(10, 20); elem <- Seq("float", "double"))
    test(s"transformNative == transform == brute-force argmin at ${side}x$side on array<$elem>") {
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(s"array<$elem>").as("features"))
      val model = embeddingModel(side)
      val k = side * side
      val protos = model.prototypes
      val brute = emb.collect().map { r =>
        val v = Vectors.dense(r.getSeq[Number](1).map(_.doubleValue).toArray)
        r.getLong(0) -> protos.indices.minBy(c => (Vectors.sqdist(protos(c), v), c))
      }.toMap
      def scored(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "prediction").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val (gen, interp) = codegenAndInterpreted(scored(model.transformNative(emb)))
      assert(gen == brute)
      assert(interp == brute)
      // the same rows as VectorUDT: the other decode path of the expression
      val vec = emb.select(col("vec_id"),
        org.apache.spark.ml.functions.array_to_vector(col("features")).as("features"))
      val (vecGen, vecInterp) = codegenAndInterpreted(scored(model.transform(vec)))
      assert(vecGen == brute)
      assert(vecInterp == brute)
      // duplicate prototypes resolve to the lower index, and ties did occur
      val dups = (k / 2 until k).filter(_ % 2 == 1).toSet
      assert(!brute.values.exists(dups))
      assert(brute.values.exists(c => dups(c + k / 2)))
    }

  test("transform, predict and transformNative agree on NaN and ±∞ rows; an all-NaN row costs NaN") {
    import spark.implicits._
    val inf = Double.PositiveInfinity
    val model = new SOMModel("som_edge", Array(Vectors.dense(inf, 0.0), Vectors.dense(0.0, 0.0),
      Vectors.dense(0.0, 0.0), Vectors.dense(1.0, 1.0), Vectors.dense(-inf, 0.0)))
    val rows = Seq(Array(0.0, 0.0), Array(inf, 0.0), Array(Double.NaN, 0.0), Array(-inf, 0.0),
      Array(0.9, 1.2), Array(inf, inf))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "features").repartition(2)
    def scored(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "prediction").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val predicted = rows.indices.map(i => i.toLong -> model.predict(Vectors.dense(rows(i)))).toMap
    // (∞, 0): distances NaN, ∞, ∞, ∞, ∞ -> the first ∞, as array_min orders them
    assert(predicted(1L) == 1)
    assert(scored(model.transform(df)) == predicted)
    val (gen, interp) = codegenAndInterpreted(scored(model.transformNative(df)))
    assert(gen == predicted && interp == predicted)
    // (NaN, 0) has no non-NaN distance
    assert(model.computeCost(df.where("id = 2")).isNaN)
  }

  test("native argmin kernel matches the array_min argmin on ties, NaN, ±∞ and null") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val inf = Double.PositiveInfinity
    val protos = Array(Array(inf, 0.0), Array(0.0, 0.0), Array(0.0, 0.0),
      Array(1.0, 1.0), Array(-inf, 0.0))
    val rows = Seq[(Long, Array[Double])]((0L, Array(0.0, 0.0)), (1L, Array(inf, 0.0)),
      (2L, Array(Double.NaN, 0.0)), (3L, Array(-inf, 0.0)), (4L, Array(0.9, 1.2)),
      (5L, null), (6L, Array(inf, inf)))
    val df = rows.toDF("id", "v").repartition(2)
    // the K-literal form the kernel replaced, kept here as its reference
    val dists = array(protos.toSeq.map(p =>
      graft.functions.VectorSql.sqDistFast(col("v"), typedLit(p))): _*)
    val reference = (array_position(dists, array_min(dists)) - 1).cast("int")
    val kernel = graft.functions.ArrayVectorExpressions.argminSqDist(col("v"), BmuFold(protos.toSeq))
    def run(c: org.apache.spark.sql.Column) = df.select(col("id"), c).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val want = run(reference)
    assert(want(0L).contains(1) && want(1L).contains(1) && want(5L).isEmpty)
    val (gen, interp) = codegenAndInterpreted(run(kernel))
    assert(gen == want)
    assert(interp == want)
  }

  test("transformNative: null rows score null, wrong-length rows throw naming both lengths") {
    import spark.implicits._
    val model = new SOMModel("som_small",
      Array.tabulate(4)(i => Vectors.dense(Array.fill(4)(i.toDouble)))).setGrid(2, 2)
    val ok = Seq[(Long, Array[Double])]((1L, Array(0.9, 0.9, 0.9, 0.9)), (2L, null))
      .toDF("id", "features").repartition(2)
    val (gen, interp) = codegenAndInterpreted(model.transformNative(ok)
      .select("id", "prediction").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap)
    assert(gen == Map(1L -> Some(1), 2L -> None))
    assert(interp == gen)
    val short = Seq[(Long, Array[Double])]((1L, Array(0.5, 0.5, 0.5)))
      .toDF("id", "features").repartition(2)
    codegenAndInterpreted {
      val e = intercept[Exception](model.transformNative(short).collect())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("has 3 elements") && m.contains("have 4")),
        s"unexpected error: $e")
    }
  }

  test("transformNative's executed plan is UDF-free and does not grow with K") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .withColumnRenamed("embedding", "features")
    def plan(side: Int): String = {
      val protos = Array.tabulate(side * side)(i => Vectors.dense(Array.fill(64)(i.toDouble)))
      new SOMModel("som_plan", protos).setGrid(side, side)
        .transformNative(emb).queryExecution.executedPlan.toString
    }
    val (small, large) = (plan(2), plan(20))
    assert(!small.contains("UDF(") && !large.contains("UDF("))
    assert(large.contains("K=400, d=64"))
    assert(math.abs(large.length - small.length) <= 16,
      s"plan grew with K: ${small.length} -> ${large.length} chars")
  }

  /** `rows` as an `(id, features: vector)` frame in one partition, row order kept. */
  private def vectorDF(rows: Seq[(Long, Vector)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 1),
      StructType(Seq(StructField("id", LongType),
        StructField("features", org.apache.spark.ml.linalg.SQLDataTypes.VectorType))))
  }

  private def predictions(out: org.apache.spark.sql.DataFrame): Map[Long, Option[Any]] =
    out.select("id", "prediction").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap

  test("transform's schema is transformSchema's: prediction nullable exactly when the features are") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    import spark.implicits._
    val model = new SOMModel("som_schema",
      Array.tabulate(4)(i => Vectors.dense(Array.fill(3)(i.toDouble)))).setGrid(2, 2)
    val arrays = Seq((1L, Array(0.1, 0.2, 0.3))).toDF("id", "features")
    val notNull = spark.createDataFrame(java.util.Arrays.asList(Row(1L, Seq(0.1, 0.2, 0.3))),
      StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType),
        StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false))))
    val inputs = Seq(
      vectorDF(Seq(1L -> Vectors.dense(0.1, 0.2, 0.3))),
      arrays,
      arrays.select(col("id"), col("features").cast("array<float>").as("features")),
      notNull)
    for (df <- inputs) {
      val out = model.transform(df)
      assert(out.schema == model.transformSchema(df.schema), s"on ${df.schema.simpleString}")
      assert(out.schema("prediction").nullable == df.schema("features").nullable)
      assert(out.select("prediction").head().getInt(0) == 0)
    }
  }

  test("null rows score null through transform on vector and array columns; computeCost skips them") {
    import spark.implicits._
    val model = new SOMModel("som_null",
      Array.tabulate(4)(i => Vectors.dense(Array.fill(3)(i.toDouble)))).setGrid(2, 2)
    val vec = vectorDF(Seq(1L -> Vectors.dense(0.9, 0.9, 0.9), 2L -> null,
      3L -> Vectors.sparse(3, Array(2), Array(2.5))))
    val arr = Seq[(Long, Array[Double])]((1L, Array(0.9, 0.9, 0.9)), (2L, null),
      (3L, Array(0.0, 0.0, 2.5))).toDF("id", "features").repartition(2)
    val want = Map(1L -> Some(1), 2L -> None, 3L -> Some(1))
    for (df <- Seq(vec, arr)) {
      val (gen, interp) = codegenAndInterpreted(predictions(model.transform(df)))
      assert(gen == want && interp == want)
    }
    val (gen, interp) = codegenAndInterpreted(
      (model.computeCost(vec), model.computeCost(vec.where("id <> 2"))))
    val kernelSum = Seq(Array(0.9, 0.9, 0.9), Array(0.0, 0.0, 2.5))
      .foldLeft(0.0)((s, x) => s + nearest(model.prototypes, Vectors.dense(x))._2)
    for ((withNull, without) <- Seq(gen, interp)) {
      assert(sameBits(withNull, without))
      assert(sameBits(withNull, kernelSum))
    }
    assert(sameBits(model.computeCost(vec.where("id = 2")), 0.0))
  }

  test("a null element in an array row scores null on both outputs; computeCost skips the row") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val model = new SOMModel("som_null_elem", Array(Vectors.dense(0.0, 0.0), Vectors.dense(5.0, 5.0)))
    val rows = Seq(Row(1L, Seq(5.0, null)), Row(2L, Seq(null, null)), Row(3L, Seq(4.0, 4.5)))
    val doubles = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType),
        StructField("features", ArrayType(DoubleType, containsNull = true), nullable = false))))
    val floats = doubles.select(col("id"), col("features").cast("array<float>").as("features"))
    val distance = graft.functions.ArrayVectorExpressions.argminSqDist(
      col("features").cast("array<double>"), BmuFold(model.prototypes.map(_.toArray).toSeq), distance = true)
    for (df <- Seq(doubles, floats)) {
      // the features field is not nullable: only its null elements make prediction nullable
      assert(model.transformSchema(df.schema)("prediction").nullable)
      assert(model.transform(df).schema == model.transformSchema(df.schema))
      val (gen, interp) = codegenAndInterpreted((predictions(model.transform(df)),
        df.select(col("id"), distance).collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap,
        model.computeCost(df)))
      for ((cells, d2, cost) <- Seq(gen, interp)) {
        assert(cells == Map(1L -> None, 2L -> None, 3L -> Some(1)))
        assert(d2 == Map(1L -> None, 2L -> None, 3L -> Some(1.25)))
        assert(sameBits(cost, 1.25))
      }
    }
  }

  test("VectorUDT scoring: dense and sparse rows match predict and the kernel's cost bit for bit") {
    val rnd = new Random(17)
    val d = 5
    val protos = Array.fill(7)(Vectors.dense(Array.fill(d)(rnd.nextGaussian())))
    val model = new SOMModel("som_vec", protos :+ Vectors.zeros(d) :+ protos(2)).setGrid(3, 3)
    val rows: Seq[Vector] = Seq(
      Vectors.sparse(d, Array.empty[Int], Array.empty[Double]),
      Vectors.sparse(d, Array(d - 1), Array(1.75)),
      Vectors.sparse(d, Array(0, 2), Array(-0.5, 3.0)),
      protos(2).copy, protos(2).toSparse) ++
      Seq.fill(40)(Vectors.dense(Array.fill(d)(rnd.nextGaussian()))) ++
      Seq.fill(40)(Vectors.dense(Array.fill(d)(if (rnd.nextBoolean()) rnd.nextGaussian() else 0.0)).toSparse)
    val df = vectorDF(rows.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val want = rows.zipWithIndex.map { case (v, i) => i.toLong -> Some(model.predict(v)) }.toMap
    assert(want(0L).contains(7) && want(3L).contains(2) && want(4L).contains(2))
    val (gen, interp) = codegenAndInterpreted(predictions(model.transform(df)))
    assert(gen == want)
    assert(interp == want)
    val rowOrderSum = rows.foldLeft(0.0)((s, v) => s + nearest(model.prototypes, v)._2)
    val (genCost, interpCost) = codegenAndInterpreted(model.computeCost(df))
    assert(sameBits(genCost, rowOrderSum) && sameBits(interpCost, rowOrderSum))
    for (bad <- Seq(Vectors.dense(0.5, 0.5, 0.5), Vectors.sparse(3, Array(1), Array(2.0))))
      codegenAndInterpreted {
        val e = intercept[Exception](model.transform(vectorDF(Seq(1L -> bad))).collect())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("has 3 elements but the prototypes have 5")),
          s"unexpected error: $e")
      }
  }

  test("transform's executed plan is UDF-free on vector and array input") {
    import spark.implicits._
    val model = new SOMModel("som_plan_udt",
      Array.tabulate(4)(i => Vectors.dense(Array.fill(3)(i.toDouble)))).setGrid(2, 2)
    val inputs = Seq(vectorDF(Seq(1L -> Vectors.dense(0.1, 0.2, 0.3))),
      Seq((1L, Array(0.1, 0.2, 0.3))).toDF("id", "features").repartition(2))
    for (df <- inputs) {
      val plan = model.transform(df).queryExecution.executedPlan.toString
      assert(!plan.contains("UDF("), plan)
      assert(plan.contains("array_argmin_sqdist"), plan)
    }
  }

  test("scoring a streaming DataFrame works (streaming model inference)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val df = demoDF(200)
    val model = new SOM().setHeight(2).setWidth(2).setMaxIter(2).setSeed(6).fit(df)
    val mem = MemoryStream[(Long, Array[Double])]
    val scored = model.setFeaturesCol("emb").setPredictionCol("cell")
      .transformNative(mem.toDF().toDF("id", "emb"))
    val q = scored.writeStream.format("memory").queryName("scored_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, Array(0.1, 0.2, 0.3)), (2L, Array(0.9, 0.8, 0.7)))
      q.processAllAvailable()
      val rows = spark.table("scored_out").collect()
      assert(rows.length == 2)
      assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 4))
    } finally {
      q.stop()
      model.setFeaturesCol("features").setPredictionCol("prediction")
    }
  }

  test("GraftExtensions registers SQL functions at session build") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force shared session/context creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder() // new session over the same context
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val r = s2.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
      assert(r.getDouble(0) == 11.0)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("sparse feature vectors train and score (reference supports both shapes)") {
    import spark.implicits._
    val rnd = new Random(17)
    val rows = Seq.fill(300) {
      val idx = (0 until 10).filter(_ => rnd.nextBoolean()).toArray
      (0.0, Vectors.sparse(10, idx, idx.map(_ => rnd.nextDouble())).asInstanceOf[Vector])
    }
    val df = rows.toDF("label", "features")
    val model = new SOM().setHeight(2).setWidth(2).setMaxIter(3).setSeed(8).fit(df)
    assert(model.prototypes.length == 4)
    assert(model.transform(df).count() == 300)
    assert(model.computeCost(df) >= 0)
  }

  test("fit on an empty dataset fails with a clear message") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Vector)].toDF("label", "features")
    val e = intercept[IllegalArgumentException](
      new SOM().setHeight(2).setWidth(2).setMaxIter(1).fit(empty))
    assert(e.getMessage.contains("not enough data"))
  }

  /** A 1×3 line map for hand-computed [[SOM.step]] cases: cells 0 and 1
    * hold the same prototype (a distance tie), cell 2 sits apart. The five
    * 1-d points and every sum are exact in binary, so each expected value
    * below is exact arithmetic plus one HALF_UP rounding. */
  private val lineProtos: Array[Vector] = Array(0.125, 0.125, 10.0).map(x => Vectors.dense(x))
  private def linePoints(partitions: Int) = spark.sparkContext.parallelize(
    Seq(1.0, 2.0, 0.25, 9.0, 12.25).map(x => Vectors.dense(x)), partitions)
  private def rectWeight(t: Double): Grid.Neighborhood =
    Grid.neighborhood("rectangular", "rectangular", 1, 3, t)
  private def values(protos: Array[Vector]): Seq[Double] = protos.map(_(0)).toSeq

  test("cellStats: a distance tie goes to the lower cell; counts, sums and cost") {
    val agg = SOM.cellStats(linePoints(1), lineProtos)
    // 1.0, 2.0 and 0.25 tie between cells 0 and 1 and go to cell 0
    assert(agg.counts.toSeq == Seq(3L, 0L, 2L))
    assert(agg.sums(0).toSeq == Seq(3.25) && agg.sums(1) == null && agg.sums(2).toSeq == Seq(21.25))
    // (0.875² + 1.875² + 0.125² + 1² + 2.25²) = 663/64
    assert(agg.cost == 10.359375)
  }

  test("step on a hand-computed map: sum and prototype rounding, kept cells, cost") {
    // rectangular window at T=0.5: every cell weighs only itself, so cell 1
    // (no points) has no neighborhood mass and keeps its prototype, rounded
    // HALF_UP (0.125 -> 0.13; half-even would give 0.12). Sums round to one
    // decimal first: cell 0 is 3.25 -> 3.3, / 3 = 1.1 (unrounded: 1.08);
    // cell 2 is 21.25 -> 21.3, / 2 = 10.65 (unrounded: 10.63).
    val (next, cost) = SOM.step(linePoints(1), lineProtos, rectWeight(0.5),
      sumDecimals = 1, protoDecimals = 2)
    assert(values(next) == Seq(1.1, 0.13, 10.65))
    assert(cost == 10.4)
    // T=1: cell 1 now averages both neighbors: (3.3 + 21.3) / 5 = 4.92
    assert(values(SOM.step(linePoints(1), lineProtos, rectWeight(1.0), 1, 2)._1) ==
      Seq(1.1, 4.92, 10.65))
    // rounding off: plain ratios, the kept prototype untouched, exact cost
    val (raw, rawCost) = SOM.step(linePoints(1), lineProtos, rectWeight(0.5), -1, -1)
    assert(values(raw) == Seq(3.25 / 3, 0.125, 10.625))
    assert(rawCost == 10.359375)
    // the partition-ordered merge gives the same result at any partitioning
    assert(values(SOM.step(linePoints(3), lineProtos, rectWeight(0.5), 1, 2)._1) ==
      Seq(1.1, 0.13, 10.65))
  }

  test("step over an input with no partitions keeps every prototype, rounded") {
    val none = spark.sparkContext.emptyRDD[Vector]
    assert(none.getNumPartitions == 0)
    val (next, cost) = SOM.step(none, lineProtos, rectWeight(1.0), sumDecimals = 1, protoDecimals = 2)
    assert(values(next) == Seq(0.13, 0.13, 10.0))
    assert(cost == 0.0)
  }

  test("warm-started fit on empty data, with 0 or 2 partitions, returns the initial prototypes") {
    import spark.implicits._
    val init = new SOMModel("init", Array.tabulate(4)(i => Vectors.dense(i.toDouble, -i.toDouble)))
      .setGrid(2, 2)
    val noPartitions = Seq.empty[(Double, Vector)].toDF("label", "features")
    val twoPartitions = spark.sparkContext.parallelize(Seq.empty[(Double, Vector)], 2)
      .toDF("label", "features")
    assert(noPartitions.rdd.getNumPartitions == 0 && twoPartitions.rdd.getNumPartitions == 2)
    for (df <- Seq(noPartitions, twoPartitions)) {
      val m = new SOM().setHeight(2).setWidth(2).setMaxIter(3).setInitialModel(init).fit(df)
      assert(m.prototypes.toSeq == init.prototypes.toSeq)
      assert(m.objectiveHistory.toSeq == Seq(0.0)) // nothing moved: converged after one step
    }
  }

  /** The driver update as it was before the kernel table: one weight
    * closure call per (cell, j) pair and BigDecimal HALF_UP rounding. Kept
    * as the reference [[SOM.smooth]] must reproduce bit for bit. */
  private def perPairSmooth(agg: SOM.CellAgg, protos: Array[Vector],
                            weight: (Int, Int) => Double, sumDecimals: Int,
                            protoDecimals: Int): (Array[Vector], Double) = {
    def round(scale: Int)(x: Double): Double =
      if (scale < 0 || !java.lang.Double.isFinite(x)) x
      else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = protos.length
    val dim = protos(0).size
    val sums = agg.sums.map(s => if (s == null) null else s.map(round(sumDecimals)))
    val next = Array.tabulate(k) { cell =>
      val acc = new Array[Double](dim)
      var wn = 0.0
      var j = 0
      while (j < k) {
        if (agg.counts(j) > 0) {
          val wgt = weight(cell, j)
          if (wgt != 0.0) {
            val sj = sums(j)
            var d = 0
            while (d < dim) { acc(d) += wgt * sj(d); d += 1 }
            wn += wgt * agg.counts(j)
          }
        }
        j += 1
      }
      val nv =
        if (wn > 0) { var d = 0; while (d < dim) { acc(d) /= wn; d += 1 }; Vectors.dense(acc) }
        else protos(cell)
      if (protoDecimals < 0) nv else Vectors.dense(nv.toArray.map(round(protoDecimals)))
    }
    (next, round(sumDecimals)(agg.cost))
  }

  /** Random cell statistics on an h×w map: cells in the top two rows and
    * every fifth cell own no points, one owner's sums are all NaN, and some
    * sums sit exactly on a 6-decimal half. */
  private def smoothCase(h: Int, w: Int, dim: Int, seed: Long): (SOM.CellAgg, Array[Vector]) = {
    val rnd = new Random(seed)
    val k = h * w
    val agg = SOM.CellAgg(k, dim)
    for (c <- 0 until k if c >= 2 * w && c % 5 != 0) {
      val n = 1 + rnd.nextInt(60)
      agg.counts(c) = n
      agg.sums(c) = Array.fill(dim)(
        if (rnd.nextInt(8) == 0) (rnd.nextInt(2000000) - 1000000 + 0.5) / 1e6
        else n * (rnd.nextGaussian() * 3 + 1))
      agg.cost += n * rnd.nextDouble()
    }
    val owners = (0 until k).filter(agg.counts(_) > 0)
    agg.sums(owners(rnd.nextInt(owners.length))) = Array.fill(dim)(Double.NaN)
    val protos = Array.fill(k)(Vectors.dense(Array.fill(dim)(rnd.nextGaussian())))
    (agg, protos)
  }

  test("smooth with the kernel table equals the per-pair loop bit for bit") {
    def bits(protos: Array[Vector]) =
      protos.toSeq.map(_.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits))
    var keptCells = 0
    for (((h, w), seed) <- Seq((20, 20), (7, 13)).zipWithIndex) {
      val (agg, protos) = smoothCase(h, w, 64, seed)
      for (topology <- Seq("rectangular", "hexagonal"); kernel <- Seq("gaussian", "rectangular");
           t <- Seq(10.0, 3.0, 1.0); (sd, pd) <- Seq((6, 4), (-1, -1), (2, 0))) {
        val cd = Grid.cellDistFor(topology, w)
        val (want, wantCost) = perPairSmooth(agg, protos,
          (c, j) => Grid.kernelWeight(kernel, cd(c, j), t), sd, pd)
        val (got, gotCost) = SOM.smooth(agg, protos, Grid.neighborhood(kernel, topology, h, w, t), sd, pd)
        val what = s"${h}x$w $topology $kernel T=$t rounding ($sd, $pd)"
        assert(bits(got) == bits(want), what)
        assert(java.lang.Double.doubleToRawLongBits(gotCost) ==
          java.lang.Double.doubleToRawLongBits(wantCost), what)
        // the NaN row reaches its neighbors; a rectangular-kernel cell in
        // the empty top rows at T=1 has no mass and keeps its prototype,
        // rounded (or the very vector when rounding is off)
        assert(got.exists(_.toArray.exists(_.isNaN)), what)
        if (kernel == "rectangular" && t == 1.0) {
          assert(got(0).toArray.toSeq == protos(0).toArray.toSeq.map(HalfUp.round(pd)), what)
          if (pd < 0) assert(got(0) eq protos(0), what)
          keptCells += 1
        }
      }
    }
    assert(keptCells == 2 * 2 * 3)
    // the input is left as it was: the sums are rounded into copies
    val (agg, protos) = smoothCase(3, 4, 5, 9)
    val before = agg.sums.map(r => if (r == null) null else r.clone())
    SOM.smooth(agg, protos, Grid.neighborhood("gaussian", "rectangular", 3, 4, 1.0), 1, 1)
    assert(agg.sums.zip(before).forall { case (a, b) => (a == null && b == null) ||
      a.map(java.lang.Double.doubleToRawLongBits).sameElements(b.map(java.lang.Double.doubleToRawLongBits)) })
    intercept[IllegalArgumentException](
      SOM.smooth(agg, protos, Grid.neighborhood("gaussian", "rectangular", 4, 4, 1.0), 1, 1))
  }

  test("computeCost of an empty dataset is 0.0") {
    import spark.implicits._
    val model = new SOM().setHeight(2).setWidth(2).setMaxIter(1).setSeed(1).fit(demoDF(50))
    assert(model.computeCost(Seq.empty[(Double, Vector)].toDF("label", "features")) == 0.0)
  }

  test("param validators reject bad values") {
    intercept[IllegalArgumentException](new SOM().setHeight(1))
    intercept[IllegalArgumentException](new SOM().setKernel("triangular"))
    intercept[IllegalArgumentException](new SOM().setDecay("cosine"))
    intercept[IllegalArgumentException](new SOM().setTopology("triangular"))
    new SOM().setTopology("hexagonal") // extension: valid since round 2
    intercept[IllegalArgumentException](new SOM().setMaxIter(-1))
  }

  /** `n` points drawn around random `centres` with gaussian `spread`. */
  private def mixture(rnd: Random, centres: Array[Array[Double]], n: Int, spread: Double) =
    Seq.fill(n) {
      val c = centres(rnd.nextInt(centres.length))
      Array.tabulate(c.length)(i => c(i) + spread * rnd.nextGaussian())
    }

  test("block BMU search equals nearest for every K mod 4, d and block tail") {
    val rnd = new Random(11)
    for (k <- (1 to 9) :+ 400; dim <- Seq(1, 2, 3, 5, 64)) {
      val centres = Array.fill(6)(Array.fill(dim)(4 * rnd.nextGaussian()))
      // prototypes sampled from the data as at init, and clustered as late in a fit
      for ((protos, shape) <- Seq(mixture(rnd, centres, k, 1.0) -> "sampled",
                                  mixture(rnd, centres, k, 0.05) -> "clustered")) {
        for (n <- Seq(0, 1, 2, 3, 4, 5, 6, 7, 64))
          assertKernel(protos, mixture(rnd, centres, n, 1.0), s"K=$k d=$dim n=$n $shape")
      }
    }
  }

  test("block BMU search on duplicated prototypes, 1-ulp near ties and a point at the prototype mean") {
    val rnd = new Random(12)
    for (dim <- Seq(1, 2, 3, 64)) {
      // each of 5 prototypes three times, interleaved: the lowest index must win
      val base = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian()))
      val protos = Seq.tabulate(15)(i => base(i * 7 % 5))
      assertKernel(protos, base.toSeq ++ mixture(rnd, base, 23, 0.3), s"duplicates d=$dim")
    }
    // near ties far from the origin, where one ulp of a component is many
    // ulps of nothing: prototype b is prototype a with one component moved
    // by -2..2 ulps, both at random places among K=9
    for (trial <- 0 until 400) {
      val dim = Seq(2, 3, 64)(trial % 3)
      val x = Array.fill(dim)(1000 + rnd.nextGaussian())
      val a = x.map(v => v + 0.01 * rnd.nextGaussian())
      val b = a.clone()
      val j = rnd.nextInt(dim)
      val ulps = rnd.nextInt(5) - 2
      for (_ <- 0 until ulps.abs) b(j) = if (ulps > 0) Math.nextUp(b(j)) else Math.nextDown(b(j))
      val far = Seq.fill(7)(Array.fill(dim)(-1000 + rnd.nextGaussian()))
      val slots = rnd.shuffle((0 until 9).toList)
      val protos = Array.fill(9)(Array.emptyDoubleArray)
      protos(slots(0)) = a; protos(slots(1)) = b
      slots.drop(2).zip(far).foreach { case (s, p) => protos(s) = p }
      assertKernel(protos.toSeq, Seq(x, x.map(Math.nextUp), a, b), s"near tie $trial")
    }
    // rows at the prototype mean, which is itself a prototype
    for (dim <- Seq(1, 2, 3, 64); k <- Seq(4, 5, 9)) {
      val v = Array.fill(dim)((rnd.nextInt(7) - 3).toDouble)
      val protos = Seq.tabulate(k)(i => v.map(_ * (i - (k - 1) / 2.0)))
      val mean = Array.tabulate(dim)(i => protos.map(_(i)).sum / k)
      assertKernel(protos, Seq.fill(4)(mean) ++ Seq(mean, protos(1)), s"mean K=$k d=$dim")
    }
    // a point at the mean of random prototypes
    val protos = Seq.fill(9)(Array.fill(3)(rnd.nextGaussian()))
    val mean = Array.tabulate(3)(i => protos.map(_(i)).sum / 9)
    assertKernel(protos, Seq.fill(4)(mean), "mean of random prototypes")
  }

  test("block BMU search at extreme magnitudes, on NaN and ±∞ rows, a NaN prototype and sparse rows") {
    val rnd = new Random(13)
    def gauss(n: Int, dim: Int, scale: Double) = Seq.fill(n)(Array.fill(dim)(scale * rnd.nextGaussian()))
    for (scale <- Seq(1e-320, 1e-300, 1e-160, 1e150, 1e200, 1e300); dim <- Seq(1, 3, 64); k <- Seq(4, 9, 400)) {
      val clue = s"scale=$scale K=$k d=$dim"
      assertKernel(gauss(k, dim, scale), gauss(13, dim, scale), clue)
      assertKernel(gauss(k, dim, 1.0), gauss(13, dim, scale), s"$clue, rows only")
      assertKernel(gauss(k, dim, scale), gauss(13, dim, 1.0), s"$clue, prototypes only")
      // one tiny or huge component in otherwise unit rows
      val rows = gauss(12, dim, 1.0)
      rows.foreach(r => r(rnd.nextInt(dim)) = scale * rnd.nextGaussian())
      assertKernel(gauss(k, dim, 1.0), rows, s"$clue, one component")
    }
    val inf = Double.PositiveInfinity
    for (dim <- Seq(1, 3, 64); k <- Seq(4, 9, 400)) {
      val protos = gauss(k, dim, 1.0)
      val rows = gauss(11, dim, 1.0)
      Seq(1 -> Double.NaN, 4 -> inf, 6 -> -inf, 9 -> Double.NaN).foreach { case (r, v) =>
        rows(r)(rnd.nextInt(dim)) = v }
      assertKernel(protos, rows, s"non-finite rows K=$k d=$dim")
      for (bad <- Seq(Double.NaN, inf)) {
        val withBad = protos.map(_.clone())
        withBad(k / 2)(0) = bad
        assertKernel(withBad, gauss(9, dim, 1.0), s"prototype $bad K=$k d=$dim")
      }
      val sparse = gauss(10, dim, 1.0).map(_.map(v => if (rnd.nextInt(3) == 0) v else 0.0))
      assertKernel(protos, sparse, s"sparse K=$k d=$dim", sparse = true)
    }
    // a wrong-length row throws, naming both lengths
    val e = intercept[IllegalArgumentException](
      BmuFold(gauss(8, 3, 1.0)).argmin(Array(1.0, 2.0), new Array[Double](8)))
    assert(e.getMessage.contains("has 2 elements but the prototypes have 3"))
  }

  test("fit through the block search is bit-identical to a fit forced through nearest, 20x20") {
    import spark.implicits._
    val rnd = new Random(14)
    val (n, dim, iters) = (3000, 16, 5)
    val centres = Array.fill(12)(Array.fill(dim)(3 * rnd.nextGaussian()))
    val rows = mixture(rnd, centres, n, 1.0)
    val df = spark.sparkContext.parallelize(rows.map(r => (0.0, Vectors.dense(r))), 3).toDF("label", "features")
    val init = rows.take(400).map(r => Vectors.dense(r.map(HalfUp.round(4)))).toArray
    val model = new SOM().setHeight(20).setWidth(20).setMaxIter(iters).setTol(0.0)
      .setProtoDecimals(4).setSumDecimals(6)
      .setInitialModel(new SOMModel("init", init)).fit(df)
    assert(model.summary.numIter == iters)
    // the same loop, every BMU from the reference argmin: one partial per
    // partition, merged in partition order, as the fit's scan merges them
    val partitions = SOM.points(df, "features").glom().collect()
    assert(partitions.length == 3)
    var protos = init
    val costs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (iter <- 0 until iters) {
      val t = Grid.temperature("exponential", iter, iters, 10.0, 1.0)
      val rowsOf = protos.map(_.toArray).toSeq
      val agg = partitions.map { part =>
        val a = SOM.CellAgg(400, dim)
        part.foreach { v => val (cell, d2) = naiveNearest(rowsOf, v.toArray); a.add(cell, v, d2) }
        a
      }.foldLeft(SOM.CellAgg(400, dim))((a, b) => a.merge(b))
      val (next, cost) = SOM.smooth(agg, protos, Grid.neighborhood("gaussian", "rectangular", 20, 20, t), 6, 4)
      protos = next
      costs += cost
    }
    assert(model.prototypes.length == 400)
    for ((p, q) <- model.prototypes.zip(protos))
      assert(p.toArray.map(java.lang.Double.doubleToRawLongBits).sameElements(
        q.toArray.map(java.lang.Double.doubleToRawLongBits)))
    assert(model.summary.objectiveHistory.map(java.lang.Double.doubleToRawLongBits).sameElements(
      costs.map(java.lang.Double.doubleToRawLongBits)))
  }

  /** The decode [[SOM.points]] replaced, kept as its reference: the
    * `array_to_vector` Scala UDF over array rows, then `Dataset.rdd`'s Row
    * deserializer. */
  private def rowDecode(df: DataFrame, c: String): RDD[Vector] = {
    import org.apache.spark.sql.functions.col
    val f = df.schema(c).dataType match {
      case SQLDataTypes.VectorType => col(c)
      case ArrayType(DoubleType, _) => array_to_vector(col(c))
      case ArrayType(FloatType, _) => array_to_vector(col(c).cast("array<double>"))
    }
    df.select(f).rdd.map(_.getAs[Vector](0))
  }

  /** A vector's class, active indices (sparse only) and value bits. */
  private def vectorBits(v: Vector): (String, Seq[Int], Seq[Long]) = v match {
    case sv: SparseVector =>
      ("sparse", sv.indices.toSeq, sv.values.map(java.lang.Double.doubleToRawLongBits).toSeq)
    case dv: DenseVector =>
      ("dense", Seq.empty, dv.values.map(java.lang.Double.doubleToRawLongBits).toSeq)
  }

  /** 3-partition frames of `rows` with the features as dense VectorUDT,
    * sparse VectorUDT (zeros dropped), array<double> and array<float>. */
  private def featureFrames(rows: Seq[Array[Double]]): Seq[(String, DataFrame)] = {
    import spark.implicits._
    def frame[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](f: Array[Double] => T) =
      spark.createDataset(spark.sparkContext.parallelize(rows.map(f), 3)).toDF("features")
    Seq(
      "dense vector" -> frame(r => Tuple1(Vectors.dense(r))),
      "sparse vector" -> frame(r => Tuple1(Vectors.dense(r).toSparse.asInstanceOf[Vector])),
      "array<double>" -> frame(r => Tuple1(r)),
      "array<float>" -> frame(r => Tuple1(r.map(_.toFloat))))
  }

  test("points decodes every features type as the Row decode did, row for row and partition for partition") {
    val rnd = new Random(21)
    val rows = Seq.fill(200)(Array.fill(5)(if (rnd.nextInt(3) == 0) 0.0 else rnd.nextGaussian())) ++
      Seq(Array(Double.NaN, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, 1e-310))
    for ((name, df) <- featureFrames(rows)) {
      val got = SOM.points(df, "features").glom().collect()
      val want = rowDecode(df, "features").glom().collect()
      assert(got.length == 3 && got.length == want.length, name)
      for ((g, w) <- got.zip(want)) assert(g.map(vectorBits).toSeq == w.map(vectorBits).toSeq, name)
      val kinds = got.flatten.map(v => vectorBits(v)._1).distinct.toSeq
      assert(kinds == Seq(if (name == "sparse vector") "sparse" else "dense"), name)
    }
  }

  /** [[SOM.fit]]'s loop run by hand over `points`: the same seeded
    * `takeSample` init, [[SOM.cellStats]] + [[SOM.smooth]] per iteration and
    * the same convergence test. */
  private def fitOn(points: RDD[Vector], som: SOM): (Array[Vector], Seq[Double]) = {
    def p[T](param: org.apache.spark.ml.param.Param[T]): T = som.getOrDefault(param)
    val (h, w, iters) = (p(som.height), p(som.width), p(som.maxIter))
    points.persist()
    try {
      var protos = points.takeSample(withReplacement = true, h * w,
        new XORShiftRandom(p(som.seed)).nextInt()).map(v => Vectors.dense(v.toArray))
      val costs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var converged = false
      while (costs.length < iters && !converged) {
        val t = Grid.temperature(p(som.decay), costs.length, iters, p(som.tMax), p(som.tMin))
        val (next, cost) = SOM.smooth(SOM.cellStats(points, protos),
          protos, Grid.neighborhood(p(som.kernel), p(som.topology), h, w, t),
          p(som.sumDecimals), p(som.protoDecimals))
        converged = !next.indices.exists(c => Vectors.sqdist(next(c), protos(c)) > p(som.tol) * p(som.tol))
        protos = next
        costs += cost
      }
      (protos, costs.toSeq)
    } finally points.unpersist()
  }

  test("fit over every features type equals a fit through the Row decode bit for bit") {
    val rnd = new Random(22)
    val centres = Array.fill(4)(Array.fill(6)(3 * rnd.nextGaussian()))
    val rows = mixture(rnd, centres, 600, 1.0).map(_.map(x => if (math.abs(x) < 0.5) 0.0 else x))
    for ((name, df) <- featureFrames(rows)) {
      val som = new SOM().setHeight(3).setWidth(4).setMaxIter(4).setTol(0.0).setSeed(23)
      val model = som.fit(df)
      val (protos, costs) = fitOn(rowDecode(df, "features"), som)
      assert(model.summary.numIter == 4, name)
      assert(model.prototypes.map(vectorBits).toSeq == protos.map(vectorBits).toSeq, name)
      assert(model.objectiveHistory.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        costs.map(java.lang.Double.doubleToRawLongBits), name)
    }
  }

  test("fit on a null features row or a null array element fails naming the column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    def frame(dt: org.apache.spark.sql.types.DataType, rows: Seq[Any]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row(_)), 2),
        StructType(Seq(StructField("emb", dt))))
    val arrays = ArrayType(DoubleType, containsNull = true)
    val cases = Seq(
      "a null row" -> frame(SQLDataTypes.VectorType,
        Seq(Vectors.dense(1.0, 2.0), null, Vectors.sparse(2, Array(1), Array(3.0)))),
      "a null row" -> frame(arrays, Seq(Seq(1.0, 2.0), null, Seq(3.0, 4.0))),
      "a null element at index 1" -> frame(arrays, Seq(Seq(1.0, 2.0), Seq(3.0, null), Seq(5.0, 6.0))),
      "a null element at index 0" -> frame(ArrayType(FloatType, containsNull = true),
        Seq(Seq(1.0f, 2.0f), Seq(null, 4.0f), Seq(5.0f, 6.0f))))
    for ((what, df) <- cases; warm <- Seq(false, true)) {
      val som = new SOM().setFeaturesCol("emb").setHeight(2).setWidth(2).setMaxIter(2).setSeed(1)
      if (warm) som.setInitialModel(new SOMModel("init",
        Array.fill(4)(Vectors.dense(0.0, 0.0))).setGrid(2, 2))
      val e = intercept[IllegalArgumentException](som.fit(df))
      assert(e.getMessage.contains("features column 'emb' holds") && e.getMessage.contains(what),
        s"${df.schema("emb").dataType} warm=$warm: ${e.getMessage}")
    }
  }

  test("initSeconds and the per-iteration times account for no more than the fit's wall time") {
    val df = demoDF(500)
    for (iters <- Seq(0, 3)) {
      val t0 = System.nanoTime()
      val s = new SOM().setHeight(3).setWidth(3).setMaxIter(iters).setTol(0.0).setSeed(42).fit(df).summary
      val wall = (System.nanoTime() - t0) / 1e9
      assert(s.numIter == iters)
      assert(s.initSeconds > 0.0)
      assert(s.initSeconds + s.iterationScanSeconds.sum + s.iterationUpdateSeconds.sum <= wall)
    }
  }
}
