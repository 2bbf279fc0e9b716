package perfbench

/** Every metric the benchmark reports. `BENCHMARK.json` lists the same
  * names and units; the self-test checks that the two agree. */
object Metrics {
  final case class Def(name: String, unit: String, better: String)

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  private def lower(name: String, unit: String) = Def(name, unit, "lower")
  private def higher(name: String, unit: String) = Def(name, unit, "higher")

  /** Reported with tracing off, on every workload. What a "pass" and a unit
    * of work are on each workload is set out in perfbench/README.md. */
  val endToEnd: Seq[Def] = Seq(
    lower("setup_s", "s"),
    lower("wall_s", "s"),
    higher("work_per_s", "1/s"),
    lower("peak_rss_mb", "MB"))

  private val engine: Seq[Def] = Seq(
    lower("workload.pass_s", "s"),
    lower("sentinel_s", "s"),
    lower("driver.gc_s", "s"),
    lower("spark.planning_ms", "ms"),
    lower("spark.jobs", "count"),
    lower("spark.stages", "count"),
    lower("spark.tasks", "count"),
    lower("spark.task_cpu_s", "s"),
    lower("spark.task_run_s", "s"),
    lower("spark.task_gc_s", "s"),
    lower("spark.shuffle_write_mb", "MB"),
    lower("spark.shuffle_read_mb", "MB"),
    lower("spark.spill_mb", "MB"),
    lower("spark.result_mb", "MB"),
    lower("spark.cached_mb_end", "MB"))

  private val som: Seq[Def] = Seq(
    lower("som.fit.s", "s"),
    lower("som.fit.task_cpu_s", "s"),
    lower("som.fit.job_s", "s"),
    lower("som.fit.driver_s", "s"),
    lower("som.fit.jobs", "count"),
    higher("som.fit.iters", "count"),
    lower("som.fit.cost_per_point", "sqdist"),
    higher("som.fit.point_iters_per_s", "1/s")) ++
    Seq("transform", "transform_native", "compute_cost").flatMap { call =>
      Seq(lower(s"som.$call.s", "s"), lower(s"som.$call.task_cpu_s", "s")) ++
        (if (call == "transform_native") Seq(lower(s"som.$call.planning_ms", "ms")) else Nil) :+
        higher(s"som.$call.rows_per_s", "1/s")
    }

  private val catalog: Seq[Def] =
    lower("catalog.total_s", "s") +:
      (CatalogMix.entries.flatMap(e => Seq(lower(s"queries.$e.s", "s"), lower(s"queries.$e.driver_s", "s"),
        higher(s"queries.$e.rows", "count"))) ++
        CatalogMix.streamingEntries.flatMap(e => Seq(
          lower(s"streaming.$e.triggers", "count"),
          lower(s"streaming.$e.trigger_ms_p50", "ms"),
          lower(s"streaming.$e.trigger_ms_max", "ms"))))

  /** Reported by the traced run, on every workload; a layer the workload
    * never calls reads 0. */
  val perLayer: Seq[Def] = engine ++ som ++ catalog
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(java.lang.Double.isFinite(v), s"non-finite value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
