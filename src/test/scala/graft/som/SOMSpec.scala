package graft.som

import graft.SparkSpec
import org.apache.spark.ml.linalg.{Vector, Vectors}
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

  test("findClosest equals naive argmin with min-index tie-break") {
    val rnd = new Random(1)
    val protos = Array.fill(25)(Vectors.dense(Array.fill(8)(rnd.nextDouble())))
      .map(v => VectorWithNorm(v, Vectors.norm(v, 2.0)))
    for (_ <- 0 until 200) {
      val p = Vectors.dense(Array.fill(8)(rnd.nextDouble()))
      val pw = VectorWithNorm(p, Vectors.norm(p, 2.0))
      val (bmu, d2) = Distance.findClosest(protos, pw)
      val naive = protos.map(c => Vectors.sqdist(c.vector, p)).zipWithIndex.minBy { case (d, i) => (d, i) }
      assert(bmu == naive._2)
      assert(math.abs(d2 - naive._1) < 1e-12)
    }
    // exact tie: duplicate prototypes -> lowest index wins
    val dup = Array(protos(3), protos(3), protos(3))
    assert(Distance.findClosest(dup, protos(3))._1 == 0)
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
    m.save(spark, path)
    val loaded = SOMModel.load(spark, path)
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

  test("transformNative matches the UDF scoring path exactly on array features") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .withColumnRenamed("embedding", "features")
    val model = new SOM().setHeight(3).setWidth(3).setMaxIter(3).setSeed(11).fit(emb)
    val udfPath = model.transform(emb).select("vec_id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nativePath = model.transformNative(emb).select("vec_id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(udfPath == nativePath)
    // and the native plan is UDF-free
    val plan = model.transformNative(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("))
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
      assert(scored(model.transform(emb)) == brute)
      // duplicate prototypes resolve to the lower index, and ties did occur
      val dups = (k / 2 until k).filter(_ % 2 == 1).toSet
      assert(!brute.values.exists(dups))
      assert(brute.values.exists(c => dups(c + k / 2)))
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
    val kernel = graft.functions.ArrayVectorExpressions.argminSqDist(col("v"),
      graft.functions.ArrayArgminSqDist.flatten(protos.toSeq), 2)
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
  private val lineProtos = Array(0.125, 0.125, 10.0).map(x => VectorWithNorm(Vectors.dense(x)))
  private def linePoints(partitions: Int) = spark.sparkContext.parallelize(
    Seq(1.0, 2.0, 0.25, 9.0, 12.25).map(x => VectorWithNorm(Vectors.dense(x))), partitions)
  private def rectWeight(t: Double): (Int, Int) => Double =
    (k, j) => Grid.kernelWeight("rectangular", Grid.cellDist(3)(k, j), t)
  private def values(protos: Array[VectorWithNorm]): Seq[Double] = protos.map(_.vector(0)).toSeq

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
    next.foreach(p => assert(p.norm == Vectors.norm(p.vector, 2.0)))
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
    val none = spark.sparkContext.emptyRDD[VectorWithNorm]
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
}
