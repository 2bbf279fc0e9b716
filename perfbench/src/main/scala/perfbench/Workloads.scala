package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.som.{SOM, SOMModel}

/** State shared by one run of one workload: the session, the tracer, the
  * run's arguments, and the tally of operations attempted and failed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val cores: Int, val dataDir: String, val oracleFile: String) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Set-up time beyond JVM and session start: the median of the workload's
    * repeated set-up step. */
  var setupS = 0.0
  val notes = mutable.ArrayBuffer.empty[String]

  private def fail(what: String): Unit = { failed += 1; failures += what }

  /** One public call, timed as a span. A throw counts as a failed operation. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(tracer.span(name)(body))
    catch { case e: Throwable => fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"); None }
  }

  /** One output check. A false result or a throw counts as a failed operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"); return }
    if (!passed) fail(what)
  }

  /** Runs `pass` as spans named "pass" until `seconds` have elapsed and at
    * least `minPasses` have run, recording for each pass the storage it
    * leaves cached. */
  def timedPasses(pass: Int => Unit, minPasses: Int = 1): Seq[Span] = {
    Main.log("set-up done, timing passes")
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
      val before = Ctx.storageMb(spark)
      tracer.span("pass")(pass(i))
      tracer.named("pass").last.add("cached_mb_end", Ctx.storageMb(spark) - before)
      i += 1
    }
    Main.log(s"$i passes done")
    tracer.named("pass")
  }

  /** Untimed warm-up runs of a pass, whose results are returned: the JIT
    * keeps speeding a workload up over its first runs. They are not part of
    * `setupS`, which holds only set-up steps that are repeated and reported
    * as a median; their time goes to a note. */
  def warmUp[A](times: Int)(pass: => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = (1 to times).map(_ => tracer.span("warmup")(pass))
    notes += f"warm-up: $times untimed passes in ${(System.nanoTime() - t0) / 1e9}%.3f s (not in setup_s)"
    out
  }

  /** Median of `repeats` timed runs of a set-up step, whose last result is kept. */
  def repeatedSetup[A](repeats: Int)(step: => A): (A, Double) = {
    var last: Option[A] = None
    val times = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      last = Some(step)
      (System.nanoTime() - t0) / 1e9
    }
    (last.get, Stats.median(times))
  }
}

object Ctx {
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize) / 1e6).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The span of median duration (the lower middle one for an even count),
    * so that every per-layer number of a workload comes from one pass. */
  def medianSpan(spans: Seq[Span]): Span = spans.sortBy(_.durationNs).apply((spans.length - 1) / 2)

  /** "median, the highest percentile with at least ten samples beyond it,
    * sample count" for a note line. */
  def describe(xs: Seq[Double]): String = {
    val s = xs.sorted
    val n = s.length
    val pct = Seq(99.9, 99.0, 90.0, 50.0).find(p => n * (1 - p / 100) >= 10)
    val tail = pct.map { p =>
      val idx = math.min(n - 1, math.ceil(p / 100 * n).toInt - 1)
      f"p$p%s=${s(idx)}%.4f"
    }.getOrElse("no percentile has 10 samples beyond it")
    f"median=${median(s)}%.4f $tail n=$n samples=${xs.map(x => f"$x%.3f").mkString("[", ",", "]")}"
  }
}

/** Per-layer numbers common to every workload, taken from one pass span. */
object EngineLayer {
  def metrics(t: Tracer, pass: Span): Map[String, Double] = {
    val jobs = t.jobsUnder(pass)
    def sum(key: String) = jobs.map(_.count(key)).sum
    Map(
      "workload.pass_s" -> pass.seconds,
      "driver.gc_s" -> pass.count("driver_gc_ms") / 1e3,
      "spark.planning_ms" -> t.total(pass, "planning_ms"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> sum("stages"),
      "spark.tasks" -> sum("tasks"),
      "spark.task_cpu_s" -> sum("task_cpu_s"),
      "spark.task_run_s" -> sum("task_run_s"),
      "spark.task_gc_s" -> sum("task_gc_s"),
      "spark.shuffle_write_mb" -> sum("shuffle_write_mb"),
      "spark.shuffle_read_mb" -> sum("shuffle_read_mb"),
      "spark.spill_mb" -> sum("spill_mb"),
      "spark.result_mb" -> sum("result_mb"),
      "spark.cached_mb_end" -> pass.count("cached_mb_end"))
  }

  /** Wall time, task CPU and planning of the public call `name` within `pass`. */
  def call(t: Tracer, pass: Span, name: String): Map[String, Double] =
    t.children(pass).find(_.name == name).map { s =>
      Map(s"$name.s" -> s.seconds,
        s"$name.task_cpu_s" -> t.jobsUnder(s).map(_.count("task_cpu_s")).sum,
        s"$name.planning_ms" -> t.total(s, "planning_ms"))
    }.getOrElse(Map.empty)
}

/** `SOM.fit` at a realistic map size: 12k points of a 64-d gaussian mixture,
  * a 20x20 map (K=400), 10 iterations, tol=0, quantized like `som_fit5`.
  * Almost all the time is the per-iteration BMU scan job and the Spark driver's
  * O(K^2 d) smoothing; planning and shuffle are negligible. */
object SomTrain {
  val N = 12000
  val Dim = 64
  val Clusters = 32
  val Height = 20
  val Width = 20
  val Iters = 10
  // the slice checked bit for bit against RefSom
  val CheckN = 1500
  val CheckSide = 6

  def som(h: Int, w: Int, seed: Long): SOM = new SOM().setHeight(h).setWidth(w)
    .setMaxIter(Iters).setTol(0.0).setProtoDecimals(4).setSumDecimals(6).setSeed(seed)

  def run(ctx: Ctx): Map[String, Double] = {
    import ctx._
    val m = Gen.mixture(seed, Clusters, Dim)
    val (data, genS) = repeatedSetup(3) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val df = Gen.frame(spark, m, seed, 1, N, cores).persist(StorageLevel.MEMORY_ONLY)
      require(df.count() == N)
      df
    }
    setupS = genS
    val est = som(Height, Width, seed)
    // the JIT keeps speeding the fit loop up over the first three fits; the
    // first warm-up fit is the one every timed fit must repeat
    val warm = warmUp(3)(est.fit(data)).head

    val passes = timedPasses { _ =>
      op("som.fit")(est.fit(data)).foreach { model =>
        check("som_train: numIter equals maxIter")(model.summary.numIter == Iters)
        check("som_train: repeated fit gives identical prototypes")(
          model.prototypes.map(_.toArray.toSeq).toSeq == warm.prototypes.map(_.toArray.toSeq).toSeq)
        tracer.named("som.fit").last.add("cost", model.summary.cost)
        tracer.named("som.fit").last.add("iters", model.summary.numIter)
      }
    }
    checkAgainstReference(ctx, m)

    val walls = passes.map(_.seconds)
    notes += s"som_train pass = one SOM.fit of N=$N d=$Dim K=${Height * Width} iters=$Iters; pass wall ${Stats.describe(walls)}"
    val pass = Stats.medianSpan(passes)
    val fit = tracer.children(pass).find(_.name == "som.fit")
    val perLayer = EngineLayer.metrics(tracer, pass) ++ fit.map { f =>
      val jobS = tracer.jobSeconds(f)
      Map("som.fit.s" -> f.seconds,
        "som.fit.task_cpu_s" -> tracer.jobsUnder(f).map(_.count("task_cpu_s")).sum,
        "som.fit.job_s" -> jobS,
        "som.fit.driver_s" -> (f.seconds - jobS),
        "som.fit.jobs" -> tracer.jobsUnder(f).size.toDouble,
        "som.fit.iters" -> f.count("iters"),
        "som.fit.cost_per_point" -> f.count("cost") / N,
        "som.fit.point_iters_per_s" -> N.toDouble * Iters / f.seconds)
    }.getOrElse(Map.empty)
    Map("wall_s" -> Stats.median(walls),
      "work_per_s" -> N.toDouble * Iters / Stats.median(walls)) ++ perLayer
  }

  /** Fits a small seed-derived slice in one partition, so the per-cell sums
    * run in row order, and compares prototypes, cost and iteration count
    * bit for bit with the reference implementation. */
  private def checkAgainstReference(ctx: Ctx, m: Gen.Mixture): Unit = {
    import ctx._
    val pts = Gen.points(m, seed, 4, 0, CheckN)
    val init = pts.take(CheckSide * CheckSide)
    val expected = RefSom.fit(pts, init, CheckSide, CheckSide, Iters, 0.0, 4, 6)
    val df = spark.createDataFrame(pts.toSeq.map(Tuple1(_))).toDF("features").coalesce(1)
    val initModel = new SOMModel("init", init.map(a => org.apache.spark.ml.linalg.Vectors.dense(a)))
    val model = som(CheckSide, CheckSide, seed).setInitialModel(initModel).fit(df)
    check("som_train: slice prototypes equal the reference bit for bit")(
      model.prototypes.map(_.toArray.toSeq).toSeq == expected.prototypes.map(_.toSeq).toSeq)
    check("som_train: slice cost equals the reference bit for bit")(
      java.lang.Double.doubleToRawLongBits(model.summary.cost) == java.lang.Double.doubleToRawLongBits(expected.cost))
    check("som_train: slice iteration count equals the reference")(
      model.summary.numIter == expected.iterations && expected.iterations == Iters)
  }
}

/** The read side of the model `som_train` writes: a 10x10 model (the
  * reference default), fitted in each set-up repetition, scores 60k rows through
  * `transform` (UDF) and `computeCost`, and the first 600 of them through
  * `transformNative` (codegen), whose per-row cost is far higher today.
  * Those 600 rows are also the sample checked against brute force. No
  * iteration loop and no driver smoothing: a fit-loop gain must read zero
  * here, while a gain in the shared BMU search shows in both SOM workloads. */
object SomScore {
  val Rows = 60000
  val NativeRows = 600
  val TrainRows = 10000
  val Side = 10

  def run(ctx: Ctx): Map[String, Double] = {
    import ctx._
    val m = Gen.mixture(seed, SomTrain.Clusters, SomTrain.Dim)
    val ((data, native, model), genS) = repeatedSetup(3) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val data = Gen.frame(spark, m, seed, 2, Rows, cores).persist(StorageLevel.MEMORY_ONLY)
      require(data.count() == Rows)
      val native = data.where(col("id") < NativeRows).persist(StorageLevel.MEMORY_ONLY)
      require(native.count() == NativeRows)
      (data, native, SomTrain.som(Side, Side, seed).fit(Gen.frame(spark, m, seed, 3, TrainRows, cores)))
    }
    setupS = genS
    def udfPass(df: DataFrame) = Digest.of(model.transform(df).select("id", "prediction"))
    def nativePass(df: DataFrame) = Digest.of(model.transformNative(df).select("id", "prediction"))
    // timed passes must repeat the first warm-up pass's results
    val (udf0, native0, cost0) = warmUp(2)((udfPass(data), nativePass(native), model.computeCost(data))).head

    val passes = timedPasses { _ =>
      op("som.transform")(udfPass(data)).foreach(d =>
        check("som_score: transform digest repeats")(d == udf0))
      op("som.transform_native")(nativePass(native)).foreach(d =>
        check("som_score: transformNative digest repeats")(d == native0))
      op("som.compute_cost")(model.computeCost(data)).foreach(c =>
        check("som_score: computeCost repeats")(math.abs(c - cost0) <= 1e-9 * math.abs(cost0)))
    }

    // brute force on the native rows (a prefix of the scored rows),
    // regenerated on the Spark driver
    val protos = model.prototypes.map(_.toArray)
    val best = Gen.points(m, seed, 2, 0, NativeRows).map(p => RefSom.closest(protos, p))
    val bruteCost = best.map(_._2).sum
    import spark.implicits._
    val brute = Digest.of(best.toSeq.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }.toDF("id", "prediction"))
    check("som_score: transform equals brute-force argmin on the sample")(udfPass(native) == brute)
    check("som_score: transformNative equals brute-force argmin on the sample")(native0 == brute)
    check("som_score: computeCost equals brute-force sum of min d2 on the sample")(
      math.abs(model.computeCost(native) - bruteCost) <= 1e-9 * bruteCost)

    val walls = passes.map(_.seconds)
    val rowsPerPass = 2.0 * Rows + NativeRows
    notes += s"som_score pass = transform($Rows rows) + transformNative($NativeRows rows) + computeCost($Rows rows), K=${Side * Side}; pass wall ${Stats.describe(walls)}"
    val pass = Stats.medianSpan(passes)
    val calls = Seq(("som.transform", Rows), ("som.transform_native", NativeRows), ("som.compute_cost", Rows))
    // planning is reported for the codegen path only, where it is not negligible
    val perLayer = EngineLayer.metrics(tracer, pass) ++ calls.flatMap { case (name, rows) =>
      val c = EngineLayer.call(tracer, pass, name)
      c.get(s"$name.s").map(s => s"$name.rows_per_s" -> rows / s) ++
        (if (name == "som.transform_native") c else c - s"$name.planning_ms")
    }
    Map("wall_s" -> Stats.median(walls), "work_per_s" -> rowsPerPass / Stats.median(walls)) ++ perLayer
  }
}
