package graft.som

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** A point with its cached L2 norm, used for triangle-inequality pruning in
  * the BMU search (reference `som/SOM.scala:351-359`). */
private[graft] case class VectorWithNorm(vector: Vector, norm: Double)

private[graft] object VectorWithNorm {
  def apply(vector: Vector): VectorWithNorm = VectorWithNorm(vector, Vectors.norm(vector, 2.0))
}

private[graft] object Distance {
  /** Squared-distance lower bound from norms: (‖a‖−‖b‖)². Lets the BMU scan
    * skip the O(d) distance for most prototypes (reference
    * `som/SOM.scala:312-316`). */
  @inline def lowerBound(a: VectorWithNorm, b: VectorWithNorm): Double = {
    val diff = a.norm - b.norm
    diff * diff
  }

  /** Argmin over prototypes with min-index tie-break (strict `<`, reference
    * `som/SOM.scala:306-326`). Returns (bmuIndex, squaredDistance). */
  def findClosest(protos: Array[VectorWithNorm], p: VectorWithNorm): (Int, Double) = {
    var best = Double.PositiveInfinity
    var bestIdx = 0
    var k = 0
    while (k < protos.length) {
      val c = protos(k)
      if (lowerBound(c, p) < best) {
        val d = Vectors.sqdist(c.vector, p.vector)
        if (d < best) { best = d; bestIdx = k }
      }
      k += 1
    }
    (bestIdx, best)
  }
}

/** Batch Self-Organizing Map estimator — Kohonen map trained with the
  * k-means-style batch update plus topological neighborhood smoothing
  * (reference `som/SOM.scala`).
  *
  * Rework of the reference's RDD pipeline:
  *  - the features are decoded and normed once into a cached
  *    `RDD[VectorWithNorm]`; each iteration is one [[SOM.step]] (the kernel
  *    the catalog's SOM update entries share), whose assign+aggregate is one
  *    single-stage job: `mapPartitions` folds every partition into one K×d
  *    partial (sums, counts, Σd2), and the driver merges the partials in
  *    partition-index order from an ordered `collect` (tree-reduced only
  *    when partitions×K×d is large), so the float sums are reproducible
  *    run to run — the reference used `mapPartitions` + `reduceByKey`
  *    (reference `som/SOM.scala:192-212`);
  *  - the quantization cost rides the same partials, so a retried task
  *    cannot count it twice as the reference's at-least-once accumulator
  *    could (reference `som/SOM.scala:181`);
  *  - the O(K²·d) neighborhood smoothing stays on the driver, exactly like
  *    the reference (`som/SOM.scala:219-234`) — K is always tiny relative to N.
  *
  * Scale: per iteration, one scan of N rows with no shuffle, and one
  * collect of numPartitions K×d partials. The model (K·d doubles) is
  * broadcast each iteration and destroyed after.
  */
class SOM(override val uid: String) extends Estimator[SOMModel] with SOMParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("som"))

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setHeight(v: Int): this.type = set(height, v)
  def setWidth(v: Int): this.type = set(width, v)
  def setTMax(v: Double): this.type = set(tMax, v)
  def setTMin(v: Double): this.type = set(tMin, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setKernel(v: String): this.type = set(kernel, v)
  def setDecay(v: String): this.type = set(decay, v)
  def setTopology(v: String): this.type = set(topology, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setProtoDecimals(v: Int): this.type = set(protoDecimals, v)
  def setSumDecimals(v: Int): this.type = set(sumDecimals, v)

  private var initialModel: Option[SOMModel] = None

  /** Warm-start from an existing model's prototypes (reference
    * `som/SOM.scala:124-131`; fixes its `Int == Param` comparison bug —
    * SURVEY.md §7.3.2 — by comparing param *values*). */
  def setInitialModel(model: SOMModel): this.type = {
    require(model.prototypes.length == numCells,
      s"initial model has ${model.prototypes.length} prototypes, expected $numCells")
    initialModel = Some(model)
    this
  }

  override def fit(dataset: Dataset[_]): SOMModel = {
    transformSchema(dataset.schema, logging = true)
    val k = numCells

    // Column pruning + normalization to VectorUDT (Catalyst prunes the scan
    // to the features column), then ONE exit to a cached RDD[VectorWithNorm]
    // for the iterative hot loop. The per-iteration assign+aggregate is a
    // tiny ≤K-row result over an unchanging input: re-planning it through
    // Catalyst every iteration (analysis + whole-stage codegen + exchange)
    // costs more than the aggregation itself — the same reason MLlib's
    // iterative estimators (KMeans, GMM) run their training loops on RDD
    // aggregates. Row decode and norm compute happen once, not per
    // iteration.
    val points = SOM.points(dataset, $(featuresCol))
    points.persist(StorageLevel.MEMORY_AND_DISK)

    // --- init: K seeded random rows with the reference's exact seed chain —
    // the takeSample seed is the first nextInt of an XORShift generator
    // seeded by the user seed (`som/SOM.scala:295-298`); warm start takes
    // precedence. (Sampling the mapped RDD preserves partition structure and
    // row order, so the same seed draws the same rows as sampling the
    // DataFrame did.)
    var prototypes: Array[VectorWithNorm] = initialModel match {
      case Some(m) => m.prototypes.map(VectorWithNorm(_))
      case None =>
        val sample = points.takeSample(withReplacement = true, num = k,
          seed = new XORShiftRandom($(seed)).nextInt())
        require(sample.length == k, s"not enough data to sample $k prototypes")
        sample.map(p => VectorWithNorm(Vectors.dense(p.vector.toArray), p.norm))
    }

    val kern = $(kernel); val dec = $(decay)
    val cellD = Grid.cellDistFor($(topology), $(width))
    val tMx = $(tMax); val tMn = $(tMin); val iters = $(maxIter); val eps = $(tol)
    val history = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var converged = false

    while (iter < iters && !converged) {
      val t = Grid.temperature(dec, iter, iters, tMx, tMn)
      val (next, cost) = SOM.step(points, prototypes,
        (cell, j) => Grid.kernelWeight(kern, cellD(cell, j), t), $(sumDecimals), $(protoDecimals))
      // Converged when no prototype moved more than tol (the prototypes are
      // already quantized via protoDecimals).
      converged = !next.indices.exists(c =>
        Vectors.sqdist(next(c).vector, prototypes(c).vector) > eps * eps)
      prototypes = next
      history += cost
      iter += 1
    }

    points.unpersist(blocking = false)

    val model = copyValues(new SOMModel(uid, prototypes.map(_.vector)).setParent(this))
    val summary = new SOMTrainingSummary(
      model.transform(dataset), $(featuresCol), $(predictionCol),
      $(height), $(width), $(maxIter), iter,
      if (history.nonEmpty) history.last else 0.0, history.toArray)
    model.setSummary(Some(summary))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): SOM = defaultCopy(extra)
}

/** Params-only persistence for the unfitted estimator, so `Pipeline.save`
  * accepts a pipeline with a SOM stage; and the one batch-SOM kernel that
  * [[SOM.fit]] and the catalog's SOM update entries all run. */
object SOM extends org.apache.spark.ml.util.DefaultParamsReadable[SOM] {
  override def load(path: String): SOM = super.load(path)

  /** The features column decoded to vectors with their norms, computed once
    * so an iterative caller can cache the result. */
  private[graft] def points(dataset: Dataset[_], featuresCol: String): RDD[VectorWithNorm] = {
    val f = SOMModel.toVectorCol(dataset.schema(featuresCol).dataType, col(featuresCol))
    dataset.select(f).rdd.map(r => VectorWithNorm(r.getAs[Vector](0)))
  }

  /** Per-cell sums, counts and total quantization cost of `points` against
    * `protos`, in one single-stage job: `mapPartitions` folds every
    * partition into one K×d partial (map-side partial aggregation minus the
    * per-iteration plan compile and exchange), and the driver merges the
    * partials. The prototypes are broadcast and destroyed after. */
  private[graft] def cellStats(points: RDD[VectorWithNorm], protos: Array[VectorWithNorm]): CellAgg = {
    val k = protos.length
    val dim = protos(0).vector.size
    val bc = points.sparkContext.broadcast(protos)
    try {
      val partials = points.mapPartitions { it =>
        val a = CellAgg(k, dim)
        it.foreach { p =>
          val (cell, d2) = Distance.findClosest(bc.value, p)
          a.add(cell, p.vector, d2)
        }
        Iterator.single(a)
      }
      // Merge partials in PARTITION-INDEX order (collect preserves it): the
      // float sums are then reproducible run-to-run for a fixed partitioning,
      // unlike aggregate/treeAggregate whose driver merge follows task
      // completion order. Driver holds numPartitions×K×d doubles — fine up
      // to ~128 MB; past that, fall back to the tree combine (order
      // nondeterministic in the last ulp; set sumDecimals to quantize it
      // away when cross-run bit-equality matters at that scale). The fold
      // starts from an empty partial, so an input with no partitions
      // aggregates to no points.
      if (points.getNumPartitions.toLong * k * dim > (1L << 24))
        partials.treeReduce((a, b) => a.merge(b), depth = 2)
      else
        partials.collect().foldLeft(CellAgg(k, dim))((a, b) => a.merge(b))
    } finally bc.destroy()
  }

  /** One batch-SOM iteration: [[cellStats]], then the driver-side
    * neighborhood smoothing (the one difference from k-means, reference
    * `som/SOM.scala:219-244`) — prototype `cell` becomes
    * Σ_j weight(cell, j)·S_j / Σ_j weight(cell, j)·n_j over the cells j that
    * own points. The O(K²·d) smoothing stays on the driver, exactly like the
    * reference: K is always tiny relative to N.
    *
    * Rounding (HALF_UP, -1 = off): the order-dependent per-cell sums and the
    * cost are rounded to `sumDecimals` BEFORE the ratio, so its inputs are
    * reproducible across engines and partition counts (the som_* oracle
    * chains' round(sum(x), 6)); each new prototype is rounded to
    * `protoDecimals` after it. A cell with no neighborhood mass keeps its
    * prototype, still rounded. Returns the next prototypes and the cost of
    * `protos` over `points`. */
  private[graft] def step(points: RDD[VectorWithNorm], protos: Array[VectorWithNorm],
                          weight: (Int, Int) => Double, sumDecimals: Int,
                          protoDecimals: Int): (Array[VectorWithNorm], Double) = {
    val agg = cellStats(points, protos)
    val k = protos.length
    val dim = protos(0).vector.size
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
        else protos(cell).vector // no mass anywhere near: keep
      VectorWithNorm(if (protoDecimals < 0) nv else Vectors.dense(nv.toArray.map(round(protoDecimals))))
    }
    (next, round(sumDecimals)(agg.cost))
  }

  /** `x` rounded to `scale` decimals, HALF_UP — which matches both Spark's
    * round() and DuckDB's round() (away from zero on exact halves;
    * math.rint would be half-even). A negative scale is off. Non-finite
    * values pass through unrounded (BigDecimal rejects NaN/Inf) so a
    * poisoned feature row surfaces as a NaN prototype, not a crash. */
  private[graft] def round(scale: Int)(x: Double): Double =
    if (scale < 0 || !java.lang.Double.isFinite(x)) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Mutable per-partition accumulator for one training iteration: per-cell
    * component sums + counts + total quantization cost. The `sums` rows are
    * allocated lazily so an iteration over a partition that hits few cells
    * never materializes K×d zeros. */
  private[graft] final case class CellAgg(k: Int, dim: Int) {
    val sums: Array[Array[Double]] = new Array[Array[Double]](k)
    val counts: Array[Long] = new Array[Long](k)
    var cost: Double = 0.0

    def add(cell: Int, v: Vector, d2: Double): this.type = {
      if (sums(cell) == null) sums(cell) = new Array[Double](dim)
      val row = sums(cell)
      v.foreachActive((i, x) => row(i) += x)
      counts(cell) += 1
      cost += d2
      this
    }

    def merge(o: CellAgg): this.type = {
      var c = 0
      while (c < k) {
        if (o.sums(c) != null) {
          if (sums(c) == null) sums(c) = o.sums(c)
          else {
            val a = sums(c); val b = o.sums(c)
            var i = 0
            while (i < dim) { a(i) += b(i); i += 1 }
          }
          counts(c) += o.counts(c)
        }
        c += 1
      }
      cost += o.cost
      this
    }
  }
}
