package graft.som

import graft.sources.Tables
import graft.functions.{ArrayVectorExpressions, BmuFold}
import org.apache.spark.TaskContext
import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.util.{MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType}

/** Fitted SOM: K = height×width prototype vectors + scoring/cost operators
  * (reference `som/SOMModel.scala`).
  *
  * Scoring is one native Catalyst expression, `ArrayArgminSqDist`, not the
  * reference's UDF (`som/SOMModel.scala:76-82`): the model's prototypes,
  * transposed once into a [[BmuFold]], ride the plan, and each row gets its
  * BMU from the one exact BMU fold [[BmuFold.argmin]] — an embarrassingly
  * parallel map, no shuffle. [[transform]] and [[computeCost]] (one job
  * summing its distance output, `som/SOMModel.scala:92-97` minus the Row
  * decode) are that expression and `predict` calls the kernel, so all
  * agree on every row, NaN and ±∞ too.
  *
  * Persistence (absent in the reference, `README.md:91`): `MLWritable`
  * `model.write.save(path)` / [[SOMModel.load]], as `PipelineModel` uses.
  */
class SOMModel(override val uid: String, val prototypes: Array[Vector])
    extends Model[SOMModel] with SOMParams with MLWritable {

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  private var trainingSummary: Option[SOMTrainingSummary] = None
  private[graft] def setSummary(s: Option[SOMTrainingSummary]): this.type = { trainingSummary = s; this }
  def hasSummary: Boolean = trainingSummary.isDefined
  def summary: SOMTrainingSummary = trainingSummary.getOrElse(
    throw new RuntimeException(s"No training summary available for $uid"))
  /** Final training cost (throws if the model wasn't trained here —
    * reference `som/SOMModel.scala:32-52`). */
  def cost: Double = summary.cost
  def objectiveHistory: Array[Double] = summary.objectiveHistory

  private[graft] def setGrid(h: Int, w: Int): this.type = { set(height, h); set(width, w); this }

  /** The prototypes as the BMU kernel holds them, transposed once. */
  @transient private lazy val fold: BmuFold = BmuFold(prototypes.map(_.toArray).toSeq)

  /** BMU index for a single point (reference `som/SOMModel.scala:88-90`).
    * A sparse point is densified for the call only. */
  def predict(features: Vector): Int = fold.argmin(features.toArray, new Array[Double](fold.k))

  /** `ArrayArgminSqDist` over the features column: the BMU index, or with
    * `distance` its squared distance. `array<float>` is cast first. */
  private def scoreCol(schema: StructType, distance: Boolean): Column = {
    val f = col($(featuresCol))
    val v = schema($(featuresCol)).dataType match {
      case ArrayType(FloatType, _) => f.cast("array<double>")
      case ArrayType(DoubleType, _) | SQLDataTypes.VectorType => f
      case other => throw new IllegalArgumentException(s"unsupported features type $other")
    }
    ArrayVectorExpressions.argminSqDist(v, fold, distance)
  }

  /** Appends each row's BMU index (null for a null row): no UDF, generated
    * code whose size does not depend on K; batch and streaming alike. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    dataset.withColumn($(predictionCol), scoreCol(dataset.schema, distance = false))
  }

  /** [[transform]] under its earlier name. */
  def transformNative(dataset: Dataset[_]): DataFrame = transform(dataset)

  /** Total quantization error: Σ min-squared-distance, in one Spark job over
    * the rows of the distance projection's executed plan. Each task sums its
    * partition in row order and the driver folds the partition sums in
    * partition-index order, so the total does not depend on which task
    * finishes first. 0.0 on an empty dataset, like the reference's RDD sum.
    * Null rows are skipped; a row whose distances are all NaN adds NaN. */
  def computeCost(dataset: Dataset[_]): Double = {
    val d2 = dataset.select(scoreCol(dataset.schema, distance = true)).queryExecution.toRdd
    d2.sparkContext.runJob(d2, (_: TaskContext, it: Iterator[InternalRow]) => {
      var s = 0.0
      it.foreach(r => if (!r.isNullAt(0)) s += r.getDouble(0))
      s
    }).foldLeft(0.0)(_ + _)
  }

  /** Prototypes as a small DataFrame `(cell, prototype)` — the broadcastable
    * dimension side for SQL-expressible scoring. */
  def prototypesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    prototypes.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("cell", "prototype")
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): SOMModel = {
    val copied = new SOMModel(uid, prototypes)
    copyValues(copied, extra).setSummary(trainingSummary).setParent(parent)
  }

  /** Spark ML-native persistence: lets `PipelineModel.save/load` round-trip a
    * pipeline containing a fitted SOM. Layout: `path/metadata` (one-line JSON
    * in the standard stage-metadata shape, so the pipeline reader can
    * dispatch on the `class` field) + `path/data/prototypes` parquet. */
  override def write: MLWriter = new SOMModel.SOMModelWriter(this)
}

object SOMModel extends MLReadable[SOMModel] {

  override def read: MLReader[SOMModel] = new SOMModelReader
  override def load(path: String): SOMModel = super.load(path)

  /** Stage metadata in the layout every Spark ML reader/writer uses
    * (`class`/`timestamp`/`sparkVersion`/`uid`/`paramMap`/`defaultParamMap`);
    * written by hand because the built-in helpers are `private[ml]`. Params
    * serialize through their own public `jsonEncode`/`jsonDecode`. */
  private[som] class SOMModelWriter(instance: SOMModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods._
      import org.json4s.{JField, JObject, JValue}
      def enc(pairs: Seq[(String, String)]): JValue =
        JObject(pairs.map { case (n, j) => JField(n, parse(j)) }.toList)
      val setParams = instance.params.toSeq.filter(instance.isSet).map(p =>
        p.name -> p.asInstanceOf[Param[Any]].jsonEncode(instance.get(p).get))
      val defaults = instance.params.toSeq.filter(p => instance.hasDefault(p)).map(p =>
        p.name -> p.asInstanceOf[Param[Any]].jsonEncode(instance.getDefault(p).get))
      val metadata = ("class" -> instance.getClass.getName) ~
        ("timestamp" -> System.currentTimeMillis()) ~
        ("sparkVersion" -> sparkSession.version) ~
        ("uid" -> instance.uid) ~
        ("paramMap" -> enc(setParams)) ~
        ("defaultParamMap" -> enc(defaults))
      sparkSession.createDataset(Seq(compact(render(metadata))))(
        org.apache.spark.sql.Encoders.STRING)
        .repartition(1).write.text(s"$path/metadata")
      instance.prototypesDF(sparkSession)
        .repartition(1).write.parquet(s"$path/data/prototypes")
    }
  }

  private class SOMModelReader extends MLReader[SOMModel] {
    override def load(path: String): SOMModel = {
      import org.json4s.jackson.JsonMethods._
      import org.json4s.{DefaultFormats, JObject}
      implicit val fmt: DefaultFormats.type = DefaultFormats
      val json = parse(sparkSession.read.text(s"$path/metadata").head().getString(0))
      val uid = (json \ "uid").extract[String]
      val rows = Tables.parquet(sparkSession, s"$path/data/prototypes")
        .select("cell", "prototype").collect()
      val protos = new Array[Vector](rows.length)
      rows.foreach(r => protos(r.getInt(0)) = Vectors.dense(r.getAs[Seq[Double]](1).toArray))
      val model = new SOMModel(uid, protos)
      json \ "paramMap" match {
        case JObject(fields) => fields.foreach { case (name, v) =>
          val p = model.getParam(name)
          model.set(p.asInstanceOf[Param[Any]], p.jsonDecode(compact(render(v))))
        }
        case _ =>
      }
      require(protos.length == model.getOrDefault(model.height) * model.getOrDefault(model.width),
        s"prototype count ${protos.length} does not match saved grid params")
      model
    }
  }
}
