package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.Artifacts

/** A fixed mix of catalog entries on the benchmark's copy of the sf0.01
  * testdata, run in sorted order after `Artifacts.clear()`. The seed does not
  * change this workload: its inputs are the fixed tables, so that every
  * output can be checked against a stored DuckDB oracle digest.
  *
  * Most entries are short and bound by planning and scheduling; the rest
  * are bound by shuffle, streaming state, versioned commits and shared
  * artifacts. The SOM kernel does almost no work here (K=9). */
object CatalogMix {
  val entries: Seq[String] = Seq(
    "som_assign", "som_cost", "som_fit5", "q1_pricing",
    "events_resample_stream", "retrieval_rrf").sorted

  val streamingEntries: Seq[String] = Seq("events_resample_stream")

  /** The 26 entries first proposed for this workload. The oracle file holds a
    * digest of each, so that any of them can join `entries` without DuckDB. */
  val oracleEntries: Seq[String] = (entries ++ Seq(
    "som_assign_sql", "som_cell_stats", "som_fit_predict", "som_fit_stream", "som_predict_stream",
    "som_quality", "som_umatrix", "som_update", "som_update_hex", "km_fit", "ann_nsw", "ann_nsw_gdpr",
    "mm_image_dedup_crop", "events_dau_stream", "mv_refresh_cdf", "q3_top_revenue",
    "q5_nation_revenue", "q_topk_per_key", "q_topk_rank_rewrite", "q_mv_rewrite")).sorted

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `name<TAB>digest` lines, as written by `OracleDigests`. */
  def readOracle(path: String): Map[String, Digest.Value] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t"); n -> Digest.parse(d) }.toMap

  def run(ctx: Ctx): Map[String, Double] = {
    import ctx._
    val oracle = readOracle(oracleFile)
    val queries = SparkEntry.queries
    val (_, loadS) = repeatedSetup(3) {
      tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    }
    def pass(): Unit = {
      Artifacts.clear()
      entries.foreach { e =>
        op(s"queries.$e")(Digest.of(queries(e)(spark, dataDir))).foreach { d =>
          tracer.named(s"queries.$e").last.add("rows", d.rows.toDouble)
          check(s"catalog_mix: $e digest equals the DuckDB oracle digest")(oracle.get(e).contains(d))
        }
      }
    }
    // one untimed warm-up pass: the first run of each entry pays class loading
    setupS = loadS
    warmUp(1)(pass())

    // a pass takes about as long as a run's --seconds: two at least, so that
    // every run reports the median of the same number of passes
    val passes = timedPasses(_ => pass(), minPasses = 2)
    Artifacts.clear()

    val walls = passes.map(_.seconds)
    val pass0 = Stats.medianSpan(passes)
    val calls = tracer.children(pass0).filter(_.name.startsWith("queries."))
    val entryS = calls.map(_.seconds)
    notes += s"catalog_mix pass = ${entries.size} entries in sorted order; pass wall ${Stats.describe(walls)}; entry wall ${Stats.describe(entryS)}"
    // driver_s: the entry's time outside its Spark jobs (analysis, file
    // listing, planning, scheduling gaps), the upper bound of its planning floor
    val perEntry = calls.flatMap { c =>
      Seq(s"${c.name}.s" -> c.seconds, s"${c.name}.driver_s" -> (c.seconds - tracer.jobSeconds(c)),
        s"${c.name}.rows" -> c.count("rows"))
    }.toMap
    val streaming = streamingEntries.flatMap { e =>
      calls.find(_.name == s"queries.$e").toSeq.flatMap { c =>
        val ms = c.triggerMs
        Seq(s"streaming.$e.triggers" -> ms.size.toDouble,
          s"streaming.$e.trigger_ms_p50" -> (if (ms.isEmpty) 0.0 else Stats.median(ms)),
          s"streaming.$e.trigger_ms_max" -> (if (ms.isEmpty) 0.0 else ms.max))
      }
    }.toMap
    // entries per second at the geometric-mean entry time: weighs the short
    // planning-bound entries as much as the heavy ones, unlike wall_s
    val geoMeanS = math.exp(entryS.map(math.log).sum / entryS.size)
    Map("wall_s" -> Stats.median(walls), "work_per_s" -> 1.0 / geoMeanS,
      "catalog.total_s" -> entryS.sum) ++ EngineLayer.metrics(tracer, pass0) ++ perEntry ++ streaming
  }
}
