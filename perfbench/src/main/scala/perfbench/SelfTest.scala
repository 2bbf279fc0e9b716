package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.rand

/** The benchmark's own checks, run by `python3 perfbench/run.py --selftest`.
  * Prints one PASS or FAIL line per check and exits non-zero on any FAIL.
  * Arguments: `--data <dir> --benchmark <BENCHMARK.json>`. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"FAIL $name: $e"); failures += 1; return }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val a = Main.args(argv)
    val spark = Main.session(2)
    try run(spark, a) finally spark.stop()
    System.exit(if (failures == 0) 0 else 1)
  }

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    import spark.implicits._

    val m1 = Gen.mixture(7, 4, 8)
    test("same seed gives identical generated data, whatever the partitioning") {
      Digest.of(Gen.frame(spark, m1, 7, 1, 5000, 2)) == Digest.of(Gen.frame(spark, Gen.mixture(7, 4, 8), 7, 1, 5000, 5)) &&
        Gen.points(m1, 7, 1, 0, 50).map(_.toSeq).toSeq ==
          Gen.frame(spark, m1, 7, 1, 50, 3).orderBy("id").collect().map(_.getSeq[Double](1)).toSeq
    }
    test("a different seed or stream gives different data") {
      val base = Digest.of(Gen.frame(spark, m1, 7, 1, 5000, 2))
      base != Digest.of(Gen.frame(spark, Gen.mixture(8, 4, 8), 8, 1, 5000, 2)) &&
        base != Digest.of(Gen.frame(spark, m1, 7, 2, 5000, 2))
    }

    val df = Seq((1L, "a", 1.5), (2L, "b", -0.0), (3L, null, 0.0), (3L, null, 0.0)).toDF("k", "s", "x")
    test("digest ignores row order and partitioning") {
      Digest.of(df) == Digest.of(df.orderBy(rand(3)).repartition(3))
    }
    test("digest counts duplicate rows") {
      Digest.of(df) != Digest.of(df.distinct()) && Digest.of(df) != Digest.of(df.union(df.limit(1))) &&
        Digest.of(df.union(df)).rows == 2 * Digest.of(df).rows
    }
    test("digest ignores column order and integer width, keeps the sign of zero and nulls") {
      val ints = Seq((1, "a")).toDF("k", "s")
      val longs = Seq(("a", 1L)).toDF("s", "k")
      Digest.of(ints) == Digest.of(longs) &&
        Digest.of(Seq(0.0).toDF("x")) != Digest.of(Seq(-0.0).toDF("x")) &&
        Digest.of(Seq[(Option[Long], Option[Long])]((None, Some(1L))).toDF("a", "b")) !=
          Digest.of(Seq[(Option[Long], Option[Long])]((Some(1L), None)).toDF("a", "b"))
    }
    test("digest changes when a column is renamed, even where it keeps its place in name order") {
      Digest.of(df) != Digest.of(df.withColumnRenamed("x", "y")) &&
        Digest.of(df) != Digest.of(df.withColumnRenamed("s", "t"))
    }
    test("digest string form round-trips") {
      val d = Digest.of(df)
      Digest.parse(d.toString) == d
    }

    test("every metric name matches [A-Za-z0-9_.-]+ and is unique") {
      val names = (Metrics.endToEnd ++ Metrics.perLayer).map(_.name)
      names.forall(_.matches(Metrics.NamePattern)) && names.distinct.size == names.size
    }
    test("BENCHMARK.json lists exactly the metrics, units and directions the benchmark reports") {
      import org.json4s._
      import org.json4s.jackson.JsonMethods.parse
      implicit val formats: Formats = DefaultFormats
      val j = parse(Files.readString(Paths.get(a("benchmark"))))
      def defs(key: String) = (j \ key).extract[List[Map[String, Any]]].map(m =>
        Metrics.Def(m("name").toString, m("unit").toString, m("better").toString))
      defs("end_to_end") == Metrics.endToEnd && defs("per_layer") == Metrics.perLayer &&
        (j \ "workloads").extract[List[Map[String, String]]].map(_("name")).toSet == Main.workloads.keySet
    }

    test("span self time is the duration minus the time its children cover") {
      def span(id: Int, parent: Int, a: Long, b: Long) = { val s = new Span(id, parent, "s", a); s.endNs = b; s }
      val p = span(0, -1, 100, 200)
      // overlapping children, one sticking out before and one after the parent
      val kids = Seq(span(1, 0, 90, 120), span(2, 0, 110, 130), span(3, 0, 150, 160), span(4, 0, 190, 260))
      Spans.selfNs(p, kids) == 100 - (30 + 10 + 10) && Spans.selfNs(p, Nil) == 100 &&
        Spans.covered(0, 10, Seq((2L, 4L), (4L, 6L), (8L, 8L))) == 4
    }
    test("tracer attributes each job to the call that ran it") {
      val t = new Tracer(spark, enabled = true)
      t.span("outer") { spark.range(10).count(); t.span("inner")(spark.range(10).count()) }
      t.finish(); t.close()
      val outer = t.named("outer").head
      val inner = t.named("inner").head
      t.children(outer).count(_.name == "job") >= 1 && t.children(inner).count(_.name == "job") >= 1 &&
        t.jobsUnder(outer).size == t.children(outer).count(_.name == "job") + t.children(inner).count(_.name == "job") &&
        t.total(outer, "tasks") > 0
    }
    test("reference SOM matches SOM.fit bit for bit on a small slice") {
      val m = Gen.mixture(11, 3, 5)
      val pts = Gen.points(m, 11, 1, 0, 300)
      val init = pts.take(9)
      val ref = RefSom.fit(pts, init, 3, 3, 10, 0.0, 4, 6)
      val model = SomTrain.som(3, 3, 11)
        .setInitialModel(new graft.som.SOMModel("init", init.map(x => org.apache.spark.ml.linalg.Vectors.dense(x))))
        .fit(pts.toSeq.map(Tuple1(_)).toDF("features").coalesce(1))
      model.prototypes.map(_.toArray.toSeq).toSeq == ref.prototypes.map(_.toSeq).toSeq &&
        model.summary.cost == ref.cost && model.summary.numIter == ref.iterations
    }
    test("the catalog testdata holds every table") {
      CatalogMix.tables.forall(t => Files.exists(Paths.get(s"${a("data")}/$t.parquet")))
    }
  }
}
