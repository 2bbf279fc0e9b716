package graft.som

import org.apache.spark.ml.param._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}
import org.apache.spark.ml.linalg.SQLDataTypes

/** Parameter surface of the SOM estimator/model — same params, defaults and
  * validators as the reference (reference `som/SOMParams.scala:30-170`,
  * defaults `som/SOM.scala:40-49`): height=10, width=10, tMax=10, tMin=1,
  * maxIter=20, tol=1e-4, kernel=gaussian, decay=exponential,
  * topology=rectangular.
  *
  * Spark's `ml.param.shared.Has*` traits are `private[ml]` (the reason the
  * reference vendored them, reference `som/SOMParams.scala:100-170`); we
  * declare the handful we need directly.
  *
  * Unlike the reference we accept the features column as either a
  * `VectorUDT` or an `array<float|double>` (the testdata's parquet-native
  * encoding), converting internally.
  */
private[graft] trait SOMParams extends Params {

  final val featuresCol = new Param[String](this, "featuresCol", "features column name")
  def getFeaturesCol: String = $(featuresCol)

  final val predictionCol = new Param[String](this, "predictionCol", "prediction column name")
  def getPredictionCol: String = $(predictionCol)

  final val maxIter = new IntParam(this, "maxIter", "max number of iterations (>=0)", ParamValidators.gtEq(0))
  def getMaxIter: Int = $(maxIter)

  final val tol = new DoubleParam(this, "tol", "convergence tolerance (>=0)", ParamValidators.gtEq(0))
  def getTol: Double = $(tol)

  final val seed = new LongParam(this, "seed", "random seed")
  def getSeed: Long = $(seed)

  final val height = new IntParam(this, "height", "height of the map (>1)", ParamValidators.gt(1))
  def getHeight: Int = $(height)

  final val width = new IntParam(this, "width", "width of the map (>1)", ParamValidators.gt(1))
  def getWidth: Int = $(width)

  final val tMax = new DoubleParam(this, "tMax", "initial temperature (>0)", ParamValidators.gt(0))
  def getTMax: Double = $(tMax)

  final val tMin = new DoubleParam(this, "tMin", "final temperature (>0)", ParamValidators.gt(0))
  def getTMin: Double = $(tMin)

  /** `hexagonal` is an extension beyond the reference (its README lists hex
    * topology as an unimplemented to-do, reference `README.md:89`). */
  final val topology = new Param[String](this, "topology",
    "grid topology (rectangular|hexagonal)",
    ParamValidators.inArray(Array("rectangular", "hexagonal")))
  def getTopology: String = $(topology)

  final val kernel = new Param[String](this, "kernel",
    "neighborhood kernel (gaussian|rectangular)", ParamValidators.inArray(Array("gaussian", "rectangular")))
  def getKernel: String = $(kernel)

  final val decay = new Param[String](this, "decay",
    "temperature decay schedule (exponential|linear)", ParamValidators.inArray(Array("exponential", "linear")))
  def getDecay: String = $(decay)

  /** Extension beyond the reference: if >= 0, round every prototype component
    * to this many decimals (HALF_UP) after each update. Quantizing the
    * iterate makes the training loop bit-reproducible across engines and
    * aggregation orders — the ~1e-13 partial-agg drift is absorbed before it
    * can compound across iterations (SURVEY §8 float-determinism). -1 = off. */
  final val protoDecimals = new IntParam(this, "protoDecimals",
    "round prototype components to this many decimals after each update (-1 = off)",
    ParamValidators.gtEq(-1))
  def getProtoDecimals: Int = $(protoDecimals)

  /** Companion to [[protoDecimals]] for the *per-cell sums*: if >= 0, round
    * each component of the per-cell feature sums (and the cost) to this many
    decimals (HALF_UP) before the neighborhood-weighted combine. The sums are
    * the only order-dependent doubles entering the update ratio — quantizing
    * them makes the ratio's inputs identical across engines and partition
    * counts *by construction*, instead of relying on the drift staying clear
    * of [[protoDecimals]]'s rounding boundary (SURVEY §8). -1 = off. */
  final val sumDecimals = new IntParam(this, "sumDecimals",
    "round per-cell sum components to this many decimals before the weighted update (-1 = off)",
    ParamValidators.gtEq(-1))
  def getSumDecimals: Int = $(sumDecimals)

  setDefault(featuresCol -> "features", predictionCol -> "prediction",
    height -> 10, width -> 10, tMax -> 10.0, tMin -> 1.0,
    maxIter -> 20, tol -> 1e-4, kernel -> "gaussian", decay -> "exponential",
    topology -> "rectangular", protoDecimals -> -1, sumDecimals -> -1,
    seed -> this.getClass.getName.hashCode.toLong)

  /** Number of map cells K = height × width. */
  def numCells: Int = $(height) * $(width)

  private def isFeatureType(dt: DataType): Boolean = dt match {
    case t if t == SQLDataTypes.VectorType => true
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Schema check + append of the prediction column (reference
    * `som/SOMParams.scala:95-97` → `util/SchemaUtils.scala:85-103`):
    * fails if the prediction column already exists; empty predictionCol
    * disables the append. A null features row, or an array row holding a
    * null element, scores null. */
  protected def validateAndTransformSchema(schema: StructType): StructType = {
    val f = schema($(featuresCol))
    require(isFeatureType(f.dataType),
      s"features column '${$(featuresCol)}' must be a Vector or array<float|double>, got ${f.dataType}")
    if ($(predictionCol).isEmpty) schema
    else {
      require(!schema.fieldNames.contains($(predictionCol)),
        s"prediction column '${$(predictionCol)}' already exists")
      val nullable = f.nullable || PartialFunction.cond(f.dataType) { case ArrayType(_, n) => n }
      StructType(schema.fields :+ StructField($(predictionCol), IntegerType, nullable))
    }
  }
}
