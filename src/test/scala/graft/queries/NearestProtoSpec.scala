package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The catalog's nearest-prototype assignment (`SomQueries.nearest`, behind
  * `som_assign`, `som_cost`, the IVF layouts and the semantic dedup) against
  * the relational form it replaced, kept here as the reference: a broadcast
  * cross join to the prototypes and a per-point `min(struct(d2, proto_id))`. */
class NearestProtoSpec extends SparkSpec {

  /** The deleted relational assignment: (vec_id, cell, d2). */
  private def relational(points: DataFrame, protos: DataFrame): DataFrame =
    points.crossJoin(broadcast(protos))
      .select(col("vec_id"), col("proto_id"),
        graft.functions.VectorSql.sqDistFast(col("v"), col("c")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("proto_id"))).as("m"))
      .select(col("vec_id"), col("m.proto_id").as("cell"), col("m.d2").as("d2"))

  private def byId(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toMap

  test("kernel assignment == relational min(struct(d2, proto_id)): ties, NaN, ±∞, sparse ids") {
    import spark.implicits._
    val (inf, nan) = (Double.PositiveInfinity, Double.NaN)
    val rnd = new scala.util.Random(5)
    // prototypes are the rows with vec_id < 20: seven ids with gaps, so the
    // kernel's position differs from the id; 4 duplicates 1 (an exact tie),
    // 6 holds a NaN, 9 and 13 infinities; 7 prototypes = one block of 4 + a tail of 3
    val protoRows = Seq(1L -> Array(0.0, 0.0, 0.0), 2L -> Array(1.0, 1.0, 1.0),
      4L -> Array(0.0, 0.0, 0.0), 6L -> Array(nan, 0.0, 0.0), 9L -> Array(inf, 0.0, 0.0),
      13L -> Array(-inf, 0.0, 0.0), 19L -> Array(3.0, -2.0, 0.5))
    val edgeRows = Seq(Array(0.5, 0.5, 0.5), Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0),
      Array(nan, 0.0, 0.0), Array(inf, 0.0, 0.0), Array(-inf, 0.0, 0.0), Array(inf, inf, inf),
      Array(0.0, nan, nan), Array(3.0, -2.0, 0.5), Array(1.5, -0.5, 0.75), Array(3.0, -2.0, -0.5))
    val randomRows = Seq.fill(200)(Array.fill(3)(rnd.nextGaussian() * 2))
    val rows = protoRows ++ (edgeRows ++ randomRows).zipWithIndex.map { case (v, i) => (20L + i) -> v }
    val dir = java.nio.file.Files.createTempDirectory("nearest_proto").toString
    try {
      rows.toDF("vec_id", "embedding").repartition(3).write.parquet(s"$dir/embeddings.parquet")
      val points = SomQueries.points(spark, dir)
      val want = byId(relational(points, SomQueries.protos(spark, dir, 20)))
      assert(want.size == rows.size)
      // the tie goes to the lower id, and ids are ids, not positions
      assert(want(20L)._1 == 1L && want(1L)._1 == 1L && want(4L)._1 == 1L)
      assert(want(28L)._1 == 19L && want(19L)._1 == 19L)
      assert(want(23L) == (1L, java.lang.Double.doubleToRawLongBits(nan)))
      val protos = SomQueries.protoMatrix(spark, dir, 20)
      assert(protos._1.toSeq == protoRows.map(_._1))
      val (cell, d2) = SomQueries.nearest(col("v"), protos)
      val (gen, interp) = (
        withConf("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(byId(points.select(col("vec_id"), cell, d2))),
        withConf("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(
          byId(points.select(col("vec_id"), cell, d2))))
      assert(gen == want)
      assert(interp == want)
      // the IVF layouts' assignment: the same cell per row, the vector kept
      val ivf = SimilarityQueries.assigned(spark, dir, 20)
      assert(ivf.columns.toSeq == Seq("vec_id", "v", "cell"))
      assert(ivf.select("vec_id", "cell").as[(Long, Long)].collect().toMap == want.map { case (k, v) => k -> v._1 })
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
