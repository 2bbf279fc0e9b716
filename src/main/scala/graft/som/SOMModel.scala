package graft.som

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructType}

/** Fitted SOM: K = height×width prototype vectors + scoring/cost operators
  * (reference `som/SOMModel.scala`).
  *
  * Scoring keeps the reference's UDF form (`som/SOMModel.scala:76-82`): the
  * prototypes array (K·d doubles) rides the task closure, each row gets its
  * BMU from the pruned linear scan — an embarrassingly parallel map, no
  * shuffle, survives any scale-out. `computeCost` is one exact aggregate
  * (`som/SOMModel.scala:92-97`, minus the RDD detour).
  *
  * Persistence (absent in the reference, `README.md:91`): prototypes ↔
  * parquet `(cell, prototype: array<double>)` via [[SOMModel.save]] /
  * [[SOMModel.load]] — the same layout feeds oracle queries as a fixed
  * prototype table.
  */
class SOMModel(override val uid: String, val prototypes: Array[Vector])
    extends Model[SOMModel] with SOMParams with MLWritable {

  private val protosWithNorm: Array[VectorWithNorm] =
    prototypes.map(VectorWithNorm(_))

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

  /** BMU index for a single point (reference `som/SOMModel.scala:88-90`). */
  def predict(features: Vector): Int =
    Distance.findClosest(protosWithNorm, VectorWithNorm(features))._1

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val protos = protosWithNorm
    val predictUdf = udf { (v: Vector) =>
      Distance.findClosest(protos, VectorWithNorm(v))._1
    }
    val f = SOMModel.toVectorCol(dataset.schema($(featuresCol)).dataType, col($(featuresCol)))
    dataset.withColumn($(predictionCol), predictUdf(f))
  }

  /** Prototypes as one row-major K×d array, the layout the native argmin
    * kernel reads; built once per model. */
  private lazy val flatPrototypes: Array[Double] =
    graft.functions.ArrayArgminSqDist.flatten(prototypes.map(_.toArray).toSeq)

  /** Fully codegen scoring for array-typed features: one native
    * `ArrayArgminSqDist` expression per row (exact sqdist to each of the K
    * prototypes, first minimum wins — the same min-index tie-break as
    * `findClosest`). No UDF, no serialization barrier, and generated code
    * whose size does not depend on K. Works on batch and streaming
    * DataFrames alike. */
  def transformNative(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val v = dataset.schema($(featuresCol)).dataType match {
      case ArrayType(DoubleType, _) => col($(featuresCol))
      case ArrayType(FloatType, _) => col($(featuresCol)).cast("array<double>")
      case other => throw new IllegalArgumentException(
        s"transformNative requires an array feature column, got $other (use transform)")
    }
    dataset.withColumn($(predictionCol), graft.functions.ArrayVectorExpressions
      .argminSqDist(v, flatPrototypes, prototypes(0).size))
  }

  /** Total quantization error: Σ min-squared-distance, one aggregate job;
    * 0.0 on an empty dataset, like the reference's RDD sum. */
  def computeCost(dataset: Dataset[_]): Double = {
    val protos = protosWithNorm
    val costUdf = udf { (v: Vector) =>
      Distance.findClosest(protos, VectorWithNorm(v))._2
    }
    val f = SOMModel.toVectorCol(dataset.schema($(featuresCol)).dataType, col($(featuresCol)))
    dataset.select(coalesce(sum(costUdf(f)), lit(0.0)).as("cost")).head().getDouble(0)
  }

  /** Prototypes as a small DataFrame `(cell, prototype)` — the broadcastable
    * dimension side for SQL-expressible scoring. */
  def prototypesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    prototypes.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("cell", "prototype")
  }

  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    prototypesDF(spark).repartition(1).write.mode("overwrite").parquet(s"$path/prototypes")
    Seq(($(height), $(width))).toDF("height", "width")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
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
      val rows = sparkSession.read.parquet(s"$path/data/prototypes")
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

  /** Normalize a features column (VectorUDT or array<float|double>) to
    * VectorUDT (SURVEY.md §7.3.6 conversion layer). */
  private[graft] def toVectorCol(dt: DataType, c: Column): Column = dt match {
    case t if t == org.apache.spark.ml.linalg.SQLDataTypes.VectorType => c
    case ArrayType(DoubleType, _) => org.apache.spark.ml.functions.array_to_vector(c)
    case ArrayType(FloatType, _) => org.apache.spark.ml.functions.array_to_vector(c.cast("array<double>"))
    case other => throw new IllegalArgumentException(s"unsupported features type $other")
  }

  /** Load a model saved by [[SOMModel.save]] (grid dims come from the saved
    * metadata). */
  def load(spark: SparkSession, path: String): SOMModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (height, width) = (meta.getInt(0), meta.getInt(1))
    val rows = spark.read.parquet(s"$path/prototypes").select("cell", "prototype").collect()
    require(rows.length == height * width,
      s"expected ${height * width} prototypes, found ${rows.length}")
    val protos = new Array[Vector](rows.length)
    rows.foreach(r => protos(r.getInt(0)) = Vectors.dense(r.getAs[Seq[Double]](1).toArray))
    new SOMModel(org.apache.spark.ml.util.Identifiable.randomUID("som"), protos)
      .setGrid(height, width)
  }
}
