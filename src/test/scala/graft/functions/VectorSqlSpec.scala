package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class VectorSqlSpec extends SparkSpec {

  private def pairs(n: Int, d: Int) = {
    val rnd = new Random(99)
    import spark.implicits._
    (0 until n).map(i =>
      (i, Array.fill(d)(rnd.nextDouble() * 2 - 1), Array.fill(d)(rnd.nextDouble() * 2 - 1)))
      .toDF("id", "a", "b")
  }

  test("native codegen dot/sqdist are bit-identical to the declarative fold") {
    val df = pairs(500, 64)
    val out = df.select(
      VectorSql.dot(col("a"), col("b")).as("dot_hof"),
      VectorSql.dotFast(col("a"), col("b")).as("dot_native"),
      VectorSql.sqDist(col("a"), col("b")).as("sq_hof"),
      VectorSql.sqDistFast(col("a"), col("b")).as("sq_native")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot mismatch")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "sqdist mismatch")
    }
  }

  test("native expressions survive codegen inside joins and filters") {
    val df = pairs(50, 8)
    val joined = df.as("x").crossJoin(df.as("y"))
      .where(VectorSql.sqDistFast(col("x.a"), col("y.a")) < 100.0)
    assert(joined.count() == 2500)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("BatchEvalPython"))
  }

  test("type check rejects non-array<double> inputs") {
    import spark.implicits._
    val bad = Seq((1, "x")).toDF("i", "s")
    val e = intercept[Exception] {
      bad.select(VectorSql.dotFast(col("s"), col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }

  test("null arrays yield null, not a crash") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]])).toDF("a", "b")
    val r = df.select(VectorSql.dotFast(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("array_sqdist / array_dot: a null element scores null, unequal lengths throw, generated and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    def frame(containsNull: Boolean, rows: Seq[(Long, Seq[Any], Seq[Any])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, a, b) => Row(i, a, b) }, 2),
      StructType(Seq(StructField("id", LongType)) ++ Seq("a", "b").map(c =>
        StructField(c, ArrayType(DoubleType, containsNull), nullable = false))))
    def scores(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
      VectorSql.sqDistFast(col("a"), col("b")), VectorSql.dotFast(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    val withNulls = frame(containsNull = true, Seq(
      (1L, Seq(5.0, null), Seq(0.0, 0.0)), (2L, Seq(0.0, 0.0), Seq(null, 1.0)),
      (3L, Seq(1.0, 2.0), Seq(3.0, 5.0))))
    val noNulls = frame(containsNull = false, Seq((3L, Seq(1.0, 2.0), Seq(3.0, 5.0))))
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN")))
      withConf("spark.sql.codegen.wholeStage" -> wholeStage, "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> factory) {
        assert(scores(withNulls) == Map(1L -> (None, None), 2L -> (None, None),
          3L -> (Some(13.0), Some(13.0))), factory)
        assert(scores(noNulls) == Map(3L -> (Some(13.0), Some(13.0))), factory)
        for ((a, b) <- Seq(Seq(1.0, 2.0, 3.0) -> Seq(1.0), Seq(1.0) -> Seq(1.0, 2.0, 3.0));
             f <- Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
               VectorSql.sqDistFast, VectorSql.dotFast)) {
          val e = intercept[Exception](frame(containsNull = false, Seq((1L, a, b)))
            .select(f(col("a"), col("b"))).collect())
          val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).map(_.getMessage)
          assert(msgs.exists(m => m != null && m.contains(s"the arrays have ${a.length} and ${b.length} elements")),
            s"$factory: unexpected error $e")
        }
      }
    // the element scan makes the result nullable only where the type admits null elements
    assert(withNulls.select(VectorSql.sqDistFast(col("a"), col("b"))).schema.head.nullable)
    assert(!noNulls.select(VectorSql.sqDistFast(col("a"), col("b"))).schema.head.nullable)
  }

  test("md5Hash60 is non-negative, stable, below 2^60") {
    import spark.implicits._
    val h = Seq("a", "b", "a").toDF("s")
      .select(VectorSql.md5Hash60(col("s")).as("h")).collect().map(_.getLong(0))
    assert(h(0) == h(2) && h(0) != h(1))
    assert(h.forall(x => x >= 0 && x < (1L << 60)))
  }
}
