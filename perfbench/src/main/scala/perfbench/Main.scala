package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload once and writes its result as one JSON object.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --data <dir> --oracle <file> --out <file> [--spans <file>]`.
  * The system property `perfbench.launch.ms` is the epoch time at which the
  * JVM was launched, so that set-up time includes JVM and session start. */
object Main {
  val workloads: Map[String, Ctx => Map[String, Double]] = Map(
    "som_train" -> SomTrain.run,
    "som_score" -> SomScore.run,
    "catalog_mix" -> CatalogMix.run)

  def args(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}") }.toMap

  /** The session as `graft.Bench` builds it. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session up")
    spark.range(1000).selectExpr("sum(id)").collect()
    log("first query done")
    spark
  }

  /** A progress line with the JVM's uptime, for the run log. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  /** `graft.Bench`'s CPU sentinel: fixed, data-independent work whose wall
    * time shows how contended the machine was during the run. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 27).selectExpr("count(xxhash64(id)) c").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the JVM up
    val code = try { run(args(argv)); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(a: Map[String, String]): Unit = {
    val name = a("workload")
    val workload = workloads.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val launchMs = sys.props.get("perfbench.launch.ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = session(cores)
    val startS = (System.currentTimeMillis() - launchMs) / 1e3
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, a("seed").toLong, a("seconds").toDouble, cores, a("data"), a("oracle"))
    val sentinelS = sentinel(spark)
    val measured = try workload(ctx) catch { case e: Throwable =>
      e.printStackTrace()
      ctx.attempted += 1
      ctx.failed += 1
      ctx.failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      Map.empty[String, Double]
    }
    Main.log("workload done")
    tracer.finish()
    tracer.close()
    val all = measured ++ Map(
      "setup_s" -> (startS + ctx.setupS),
      "peak_rss_mb" -> peakRssMb(),
      "sentinel_s" -> sentinelS)
    val wanted = if (trace) Metrics.perLayer else Metrics.endToEnd
    // an end-to-end metric the workload failed to measure fails the run;
    // a layer the workload never calls reads 0
    val missing = if (trace) Nil else wanted.map(_.name).filterNot(all.contains)
    missing.foreach(m => { ctx.attempted += 1; ctx.failed += 1; ctx.failures += s"metric $m not measured" })
    val metrics = wanted.filterNot(d => missing.contains(d.name)).map { d =>
      s"""${Json.str(d.name)}:{"value":${Json.num(all.getOrElse(d.name, 0.0))},"unit":${Json.str(d.unit)}}"""
    }.mkString("{", ",", "}")
    ctx.notes += s"setup: JVM and session start ${"%.3f".format(startS)} s, workload set-up ${"%.3f".format(ctx.setupS)} s"
    ctx.notes += s"sentinel ${"%.4f".format(sentinelS)} s; failed_op_ratio ${ctx.failed}/${ctx.attempted}"
    val json =
      s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metrics,""" +
        s""""notes":${ctx.notes.map(Json.str).mkString("[", ",", "]")},"failures":${ctx.failures.map(Json.str).mkString("[", ",", "]")}}"""
    a.get("spans").foreach(p => Files.writeString(Paths.get(p), tracer.json))
    Files.writeString(Paths.get(a("out")), json + "\n")
    spark.stop()
    log("session stopped")
  }
}
