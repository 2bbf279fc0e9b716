package graft.som

import graft.functions.{BmuFold, HalfUp}
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.linalg.{DenseVector, SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType, UserDefinedType}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** Batch Self-Organizing Map estimator — Kohonen map trained with the
  * k-means-style batch update plus topological neighborhood smoothing
  * (reference `som/SOM.scala`).
  *
  * Rework of the reference's RDD pipeline:
  *  - the features are decoded once, straight from the rows of the
  *    executed plan, into a cached `RDD[Vector]` ([[SOM.points]]); each
  *    iteration is one [[SOM.step]] (the kernel the catalog's SOM update
  *    entries share), whose assign+aggregate is one plain Spark job over
  *    that RDD: each point's BMU comes from [[BmuFold]], the one exact BMU
  *    fold, over the prototypes held component-major, so the inner loop
  *    runs across the K prototypes and the JIT vectorises it (the
  *    reference's norm-bound prune skipped 3 % of candidates at K=400);
  *    every task folds its partition into one K×d partial (sums, counts,
  *    Σd2), `runJob` returns the partials in partition-index order and the
  *    driver merges them in that order (tree-reduced only when
  *    partitions×K×d is large), so the float sums are reproducible run to
  *    run — the reference used `mapPartitions` + `reduceByKey` (reference
  *    `som/SOM.scala:192-212`);
  *  - the quantization cost rides the same partials, so a retried task
  *    cannot count it twice as the reference's at-least-once accumulator
  *    could (reference `som/SOM.scala:181`);
  *  - the O(K²·d) neighborhood smoothing stays on the driver, like the
  *    reference (`som/SOM.scala:219-234`), but reads the kernel from a
  *    per-iteration table indexed by grid distance and rounds without
  *    BigDecimal ([[SOM.smooth]]).
  *
  * Cost at K=400, d=64, N=12,000 on `local[4]` (4-vCPU VM): a scan job
  * takes about 30 ms, of which its tasks' CPU (about 65 ms over 4 slots)
  * fills only half; the smoothing takes about 3 ms of an iteration. The
  * fit therefore runs as few jobs as it can — the two of `takeSample` (the
  * first of which fills the cache) and one per iteration — and creates no
  * RDD per iteration. [[SOMTrainingSummary]] splits a fit's time into
  * init, scans and driver updates.
  *
  * Scale: per iteration, one scan of N rows with no shuffle, and one
  * result of numPartitions K×d partials. The model (K·d doubles) is
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
    val start = System.nanoTime()
    transformSchema(dataset.schema, logging = true)
    val k = numCells

    // Column pruning + normalization (Catalyst prunes the scan to the
    // features column), then ONE exit to a cached RDD[Vector] for the
    // iterative hot loop. The per-iteration assign+aggregate is a tiny
    // ≤K-row result over an unchanging input: re-planning it through
    // Catalyst every iteration (analysis + whole-stage codegen + exchange)
    // costs more than the aggregation itself — the same reason MLlib's
    // iterative estimators (KMeans, GMM) run their training loops on RDD
    // aggregates. Row decode happens once, not per iteration.
    val points = SOM.points(dataset, $(featuresCol))
    points.persist(StorageLevel.MEMORY_AND_DISK)

    try SOM.rethrowBadRow {
      // --- init: K seeded random rows with the reference's exact seed chain —
      // the takeSample seed is the first nextInt of an XORShift generator
      // seeded by the user seed (`som/SOM.scala:295-298`); warm start takes
      // precedence. (The decoded RDD keeps the plan's partitions and row
      // order, so the same seed draws the same rows as sampling the
      // DataFrame did.)
      var prototypes: Array[Vector] = initialModel match {
        case Some(m) => m.prototypes
        case None =>
          val sample = points.takeSample(withReplacement = true, num = k,
            seed = new XORShiftRandom($(seed)).nextInt())
          require(sample.length == k, s"not enough data to sample $k prototypes")
          sample.map(p => Vectors.dense(p.toArray))
      }
      val initSeconds = (System.nanoTime() - start) / 1e9

      val kern = $(kernel); val dec = $(decay); val topo = $(topology)
      val tMx = $(tMax); val tMn = $(tMin); val iters = $(maxIter); val eps = $(tol)
      val history = scala.collection.mutable.ArrayBuffer.empty[Double]
      val scanSeconds, updateSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
      var iter = 0
      var converged = false

      while (iter < iters && !converged) {
        val t = Grid.temperature(dec, iter, iters, tMx, tMn)
        // SOM.step, with its scan and its driver update timed apart
        val t0 = System.nanoTime()
        val agg = SOM.cellStats(points, prototypes)
        val t1 = System.nanoTime()
        val (next, cost) = SOM.smooth(agg, prototypes,
          Grid.neighborhood(kern, topo, $(height), $(width), t), $(sumDecimals), $(protoDecimals))
        scanSeconds += (t1 - t0) / 1e9
        updateSeconds += (System.nanoTime() - t1) / 1e9
        // Converged when no prototype moved more than tol (the prototypes are
        // already quantized via protoDecimals).
        converged = !next.indices.exists(c => Vectors.sqdist(next(c), prototypes(c)) > eps * eps)
        prototypes = next
        history += cost
        iter += 1
      }

      val model = copyValues(new SOMModel(uid, prototypes).setParent(this))
      val summary = new SOMTrainingSummary(
        model.transform(dataset), $(featuresCol), $(predictionCol),
        $(height), $(width), $(maxIter), iter,
        if (history.nonEmpty) history.last else 0.0, history.toArray,
        scanSeconds.toArray, updateSeconds.toArray, initSeconds)
      model.setSummary(Some(summary))
      model
    } finally points.unpersist(blocking = false)
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

  /** The features column (VectorUDT or array<float|double>) decoded to
    * vectors once, for an iterative caller to cache: one pass over the rows
    * of the projection's executed plan, so the RDD has the plan's
    * partitions and row order. A vector row goes through the UDT's own
    * `deserialize`, so sparse rows stay sparse (the BMU scan densifies per
    * call); an array row is copied into a dense vector, `array<float>`
    * after a cast to `array<double>`. A null row, or a null element of an
    * array row, fails its task with an IllegalArgumentException naming the
    * column (there is no vector to train on; `transform` scores such a row
    * null and `computeCost` skips it). */
  private[graft] def points(dataset: Dataset[_], featuresCol: String): RDD[Vector] =
    decode(dataset, featuresCol)((_, v) => v)

  /** [[points]] keyed by the long `idCol`, with `flag` (a boolean column,
    * null read as false) evaluated in the same projection: k-means seeding
    * reads the ids and its sample rule off the one decode its fit caches. */
  private[graft] def keyedPoints(dataset: Dataset[_], idCol: String, featuresCol: String,
                                 flag: Column): RDD[(Long, Vector, Boolean)] =
    decode(dataset, featuresCol, col(idCol).cast("long"), flag)((r, v) =>
      (r.getLong(1), v, !r.isNullAt(2) && r.getBoolean(2)))

  /** The projection of `featuresCol` and `extra`, each row handed to `row`
    * with its decoded features (the row is reused; read it in the call). */
  private def decode[T: ClassTag](dataset: Dataset[_], featuresCol: String, extra: Column*)(
      row: (InternalRow, Vector) => T): RDD[T] = {
    val c = col(featuresCol)
    dataset.schema(featuresCol).dataType match {
      case SQLDataTypes.VectorType =>
        val udt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
        dataset.select(c +: extra: _*).queryExecution.toRdd.map { r =>
          if (r.isNullAt(0)) throw badRow(featuresCol, "a null row")
          row(r, udt.deserialize(r.getStruct(0, 4)))
        }
      case ArrayType(elem @ (DoubleType | FloatType), nullElements) =>
        val f = if (elem == FloatType) c.cast("array<double>") else c
        dataset.select(f +: extra: _*).queryExecution.toRdd.map { r =>
          if (r.isNullAt(0)) throw badRow(featuresCol, "a null row")
          val xs = r.getArray(0)
          if (nullElements) {
            var i = 0
            while (i < xs.numElements()) {
              if (xs.isNullAt(i)) throw badRow(featuresCol, s"an array row with a null element at index $i")
              i += 1
            }
          }
          row(r, Vectors.dense(xs.toDoubleArray()))
        }
      case other => throw new IllegalArgumentException(s"unsupported features type $other")
    }
  }

  private def badRow(featuresCol: String, what: String) =
    new IllegalArgumentException(s"features column '$featuresCol' holds $what")

  /** Runs `body`, rethrowing an IllegalArgumentException that failed one of
    * its tasks (a bad features row, see [[points]]) as itself rather than
    * as the job's SparkException. */
  private[graft] def rethrowBadRow[T](body: => T): T =
    try body catch {
      case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] =>
        throw e.getCause
    }

  /** Per-cell sums, counts and total quantization cost of `points` against
    * `protos` ([[BmuFold.apply]], squared L2). */
  private[graft] def cellStats(points: RDD[Vector], protos: Array[Vector]): CellAgg =
    cellStats(points, BmuFold(protos.map(_.toArray).toSeq))

  /** Per-cell sums, counts and summed distance of `points` against the
    * prototypes of `fold`, whose metric ranks them, in one single-stage job
    * over `points` itself (`runJob`, so no RDD is created per call): every
    * task folds its partition into one K×d partial, and the driver merges
    * the partials in partition-index order. Each point's cell and distance
    * come from [[BmuFold.argmin]]; the fold is broadcast and destroyed
    * after, and each task keeps one K-double distance buffer. */
  private[graft] def cellStats(points: RDD[Vector], fold: BmuFold): CellAgg = {
    val k = fold.k
    val dim = fold.dim
    val sc = points.sparkContext
    val bc = sc.broadcast(fold)
    try {
      val partial = (it: Iterator[Vector]) => {
        val fold = bc.value
        val acc = new Array[Double](k)
        val a = CellAgg(k, dim)
        it.foreach { p => val cell = fold.argmin(p.toArray, acc); a.add(cell, p, acc(cell)) }
        a
      }
      // Merge partials in PARTITION-INDEX order (runJob returns them so):
      // the float sums are then reproducible run-to-run for a fixed
      // partitioning, unlike aggregate/treeAggregate whose driver merge
      // follows task completion order. Driver holds numPartitions×K×d
      // doubles — fine up to ~128 MB; past that, fall back to the tree
      // combine (order nondeterministic in the last ulp; set sumDecimals to
      // quantize it away when cross-run bit-equality matters at that
      // scale). The fold starts from an empty partial, so an input with no
      // partitions aggregates to no points.
      if (points.getNumPartitions.toLong * k * dim > (1L << 24))
        points.mapPartitions(it => Iterator.single(partial(it)))
          .treeReduce((a, b) => a.merge(b), depth = 2)
      else
        sc.runJob(points, (_: TaskContext, it: Iterator[Vector]) => partial(it))
          .foldLeft(CellAgg(k, dim))((a, b) => a.merge(b))
    } finally bc.destroy()
  }

  /** One batch-SOM iteration: [[cellStats]], then [[smooth]]. */
  private[graft] def step(points: RDD[Vector], protos: Array[Vector],
                          nb: Grid.Neighborhood, sumDecimals: Int,
                          protoDecimals: Int): (Array[Vector], Double) =
    smooth(cellStats(points, protos), protos, nb, sumDecimals, protoDecimals)

  /** The driver half of [[step]]: the neighborhood smoothing of `agg`, the
    * [[cellStats]] of `protos` (the one difference from k-means, reference
    * `som/SOM.scala:219-244`) — prototype `cell` becomes
    * Σ_j nb(cell, j)·S_j / Σ_j nb(cell, j)·n_j over the cells j that own
    * points. It runs single-threaded on the driver while the executors
    * wait: at K=400, d=64 it is up to 10 M multiply-adds and 51,200
    * roundings per iteration. Measured on a 4-vCPU VM: 5–10 ms per call on
    * fully populated cells and a median of 3 ms per iteration of a 12,000
    * point fit, down from 41–50 ms and 28 ms with a per-pair weight closure
    * and BigDecimal rounding. Each (cell, component) is still the fold over
    * j ascending of `acc += w·S_j`, then `/ wn`, then the rounding, so the
    * bits are those of the plain per-pair loop; the loop skips zero weights
    * and folds four of a cell's neighbors per pass over its accumulator.
    *
    * Rounding ([[HalfUp]], -1 = off): the order-dependent per-cell sums and
    * the cost are rounded to `sumDecimals` BEFORE the ratio, so its inputs
    * are reproducible across engines and partition counts (the som_* oracle
    * chains' round(sum(x), 6)); each new prototype is rounded to
    * `protoDecimals` after it. A cell with no neighborhood mass keeps its
    * prototype, still rounded. Returns the next prototypes and the cost of
    * `protos`. */
  private[graft] def smooth(agg: CellAgg, protos: Array[Vector],
                            nb: Grid.Neighborhood, sumDecimals: Int,
                            protoDecimals: Int): (Array[Vector], Double) = {
    val k = protos.length
    val dim = protos(0).size
    require(nb.cells == k, s"neighborhood of ${nb.cells} cells for $k prototypes")
    val sums = agg.sums.map(s => if (s == null) null else roundAll(s.clone(), sumDecimals))
    val owners = (0 until k).filter(agg.counts(_) > 0).toArray
    // one cell's non-zero weights over the owners, j ascending
    val js = new Array[Int](owners.length)
    val ws = new Array[Double](owners.length)
    val next = Array.tabulate(k) { cell =>
      var m = 0
      var wn = 0.0
      var o = 0
      while (o < owners.length) {
        val j = owners(o)
        val w = nb(cell, j)
        if (w != 0.0) { js(m) = j; ws(m) = w; wn += w * agg.counts(j); m += 1 }
        o += 1
      }
      if (wn > 0) {
        val acc = new Array[Double](dim)
        var i = 0
        while (i + 4 <= m) {
          val w0 = ws(i); val w1 = ws(i + 1); val w2 = ws(i + 2); val w3 = ws(i + 3)
          val s0 = sums(js(i)); val s1 = sums(js(i + 1))
          val s2 = sums(js(i + 2)); val s3 = sums(js(i + 3))
          var d = 0
          while (d < dim) {
            acc(d) = acc(d) + w0 * s0(d) + w1 * s1(d) + w2 * s2(d) + w3 * s3(d)
            d += 1
          }
          i += 4
        }
        while (i < m) {
          val w = ws(i); val s = sums(js(i))
          var d = 0
          while (d < dim) { acc(d) += w * s(d); d += 1 }
          i += 1
        }
        var d = 0
        while (d < dim) { acc(d) /= wn; d += 1 }
        Vectors.dense(roundAll(acc, protoDecimals))
      } else if (protoDecimals < 0) protos(cell) // no mass anywhere near: keep
      else Vectors.dense(roundAll(protos(cell).toArray.clone(), protoDecimals))
    }
    (next, HalfUp.round(sumDecimals)(agg.cost))
  }

  /** `xs` rounded in place to `scale` decimals ([[HalfUp]]; negative = off). */
  private def roundAll(xs: Array[Double], scale: Int): Array[Double] = {
    if (scale >= 0) {
      var i = 0
      while (i < xs.length) { xs(i) = HalfUp.round(scale)(xs(i)); i += 1 }
    }
    xs
  }

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
      v match {
        case dv: DenseVector =>
          val xs = dv.values
          var i = 0
          while (i < xs.length) { row(i) += xs(i); i += 1 }
        case _ => v.foreachActive((i, x) => row(i) += x)
      }
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
