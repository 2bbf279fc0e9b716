package graft.queries

import graft.sources.{Sources, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Oracle-exercised source-tier entries (VERDICT r2 ask #5): catalog queries
  * that read NON-parquet sources — CSV and JSON-lines with explicit schemas —
  * through [[Sources]], checked by DuckDB `read_csv`/`read_json` on the very
  * same files.
  *
  * The fixture derives from the `nation` table, which is byte-identical at
  * every scale factor (25 rows — TPC-H dimension data doesn't scale), so the
  * fixed fixture path stays consistent with whatever sf directory the driver
  * verifies against. The builder regenerates the fixture deterministically
  * (sorted by key, fixed field order) from the given dir on every call —
  * 25 driver-side rows, not a data-scale collect.
  */
object SourceQueries {

  // Absolute so the oracle SQL (executed by a separate DuckDB process) hits
  // the same files. Anchored on the repo root, NOT the process cwd: a forked
  // test JVM or IDE runner may run the queries from a different directory
  // than the driver's oracle process, and a cwd-relative path would silently
  // split the two sides onto different files. Resolution order:
  // `-Dgraft.fixture.dir` override, else walk up from cwd to the first
  // directory holding `build.sbt` (the repo-root marker), else cwd itself.
  private val FixtureDir: String =
    sys.props.get("graft.fixture.dir").getOrElse(
      graft.RepoRoot.dir.resolve("target").resolve("fixtures").toString)

  private def nationRows(s: SparkSession, dir: String): Seq[(Long, String, Long)] =
    Tables.parquet(s, s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq

  /** Write both fixtures; returns (csvPath, jsonPath). */
  private def ensureFixtures(s: SparkSession, dir: String): (String, String) = {
    Files.createDirectories(Paths.get(FixtureDir))
    val rows = nationRows(s, dir)
    val csv = ("n_nationkey,n_name,n_regionkey" +:
      rows.map(t => s"${t._1},${t._2},${t._3}")).mkString("", "\n", "\n")
    val json = rows.map { t =>
      val words = t._2.split(" ").map(w => s""""$w"""").mkString("[", ",", "]")
      s"""{"n_nationkey":${t._1},"n_name":"${t._2}","n_regionkey":${t._3},"name_words":$words}"""
    }.mkString("", "\n", "\n")
    val csvPath = s"$FixtureDir/nation.csv"
    val jsonPath = s"$FixtureDir/nation.jsonl"
    Files.writeString(Paths.get(csvPath), csv)
    Files.writeString(Paths.get(jsonPath), json)
    (csvPath, jsonPath)
  }

  /** Nations-per-region rollup where the nation side comes from CSV (explicit
    * schema, no inference pass) and the region side from parquet — the
    * classic small-dim broadcast join, across two source formats. */
  def srcCsvNation(s: SparkSession, dir: String): DataFrame = {
    val (csvPath, _) = ensureFixtures(s, dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    val nation = Sources.readCsv(s, csvPath, schema)
    val region = Tables.parquet(s, s"$dir/region.parquet")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
  }

  /** JSON-lines read with an explicit schema including a nested array column
    * (no inference pass), filtered and projected. */
  def srcJsonNation(s: SparkSession, dir: String): DataFrame = {
    val (_, jsonPath) = ensureFixtures(s, dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType),
      StructField("name_words", ArrayType(StringType))))
    Sources.readJson(s, jsonPath, schema)
      .where(col("n_regionkey") < 3)
      .select(col("n_nationkey"), col("n_name"),
        size(col("name_words")).as("n_words"))
  }

  /** ORC write → read round-trip as a catalog entry: nation lands in ORC
    * (Spark's native vectorized ORC path — predicate pushdown and column
    * pruning like parquet), is read back and filtered. DuckDB can't read
    * ORC, so the oracle states data equality against the SAME rows from the
    * parquet `nation` table — the round-trip must be lossless. */
  def srcOrcNation(s: SparkSession, dir: String): DataFrame = {
    val orcPath = s"$FixtureDir/nation_orc"
    Sources.writeOrc(
      Tables.parquet(s, s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey")),
      orcPath)
    Sources.readOrc(s, orcPath)
      .where(col("n_regionkey") < 3)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  /** CORRUPT-RECORD ingestion — the dirty-drop reality of production feeds:
    * the nation CSV polluted with a type-corrupt row and an extra-field row,
    * read PERMISSIVE with a `_corrupt_record` capture column. Good rows
    * must survive byte-identical and the bad-row COUNT is part of the
    * oracle contract (DuckDB skips bad rows under `ignore_errors`, so its
    * count comes from raw-line arithmetic — the two engines agree on
    * which rows are bad, proven by the hash). Under-length rows are NOT in
    * the fixture: Spark pads them with nulls while DuckDB rejects them —
    * a genuine cross-engine semantic difference, documented here. */
  def srcCsvCorrupt(s: SparkSession, dir: String): DataFrame = {
    val (csvPath, _) = ensureFixtures(s, dir)
    val rows = Files.readString(Paths.get(csvPath))
    val dirty = rows + "abc,TYPECORRUPT,1\n1000,EXTRAFIELD,2,surplus\n"
    val dirtyPath = s"$FixtureDir/nation_dirty.csv"
    Files.writeString(Paths.get(dirtyPath), dirty)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType),
      StructField("_corrupt_record", StringType)))
    // cache before filtering on the corrupt column (Spark refuses queries
    // that reference ONLY the internal corrupt column on the raw relation)
    val parsed = s.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dirtyPath).cache()
    val bad = parsed.where(col("_corrupt_record").isNotNull)
      .agg(count(lit(1)).as("n_bad"))
    parsed.where(col("_corrupt_record").isNull)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .crossJoin(broadcast(bad))
  }

  // box bounds for the z-order entry (epoch days — driver-side constants)
  // custkey tops out at 149 at sf0.001, so the box starts at 50 to hit
  // rows at every SF (169 / 567 / 567 rows at the three SFs)
  private val ZLoDay = java.time.LocalDate.of(1995, 6, 1).toEpochDay
  private val ZHiDay = java.time.LocalDate.of(1996, 6, 30).toEpochDay

  /** 2-D data-skipping through the z-order (Morton) layout: orders laid out
    * once per session by (order day × custkey) interleave, then a half-year
    * × custkey-range box read back through bucket pruning + the exact
    * predicate. The oracle is the PLAIN filter over the original table —
    * the layout's whole contract is returning identical rows while reading
    * only the overlapping grid cells (pruning plan-asserted in
    * SourcesSpec). */
  def qZorderPrune(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"zorder_orders:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .withColumn("d_day",
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
      Sources.writeZorderLayout(orders, "d_day", "o_custkey", path)
    }
    Sources.zorderRead(s, layout, ZLoDay, ZHiDay, 50, 399)
      .where(col("d_day").between(ZLoDay, ZHiDay) &&
        col("o_custkey").between(50, 399))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))
  }

  /** The same box through the HILBERT-curve layout
    * ([[graft.sources.Sources.writeHilbertLayout]] — the codegen'd
    * [[graft.functions.HilbertIndex]] bucket instead of the Morton
    * interleave): the box becomes a handful of CONTIGUOUS curve-index
    * runs pruned as range predicates (the sorted-key-skipping shape;
    * HilbertSpec pins run count ≤ Morton's for this box and adjacency of
    * consecutive ids). Same oracle as `q_zorder_prune` VERBATIM — both
    * layouts' whole contract is returning exactly the plain filter's
    * rows. */
  def qHilbertPrune(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"hilbert_orders:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .withColumn("d_day",
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
      Sources.writeHilbertLayout(orders, "d_day", "o_custkey", path)
    }
    Sources.hilbertRead(s, layout, ZLoDay, ZHiDay, 50, 399)
      .where(col("d_day").between(ZLoDay, ZHiDay) &&
        col("o_custkey").between(50, 399))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))
  }

  /** Right-to-be-forgotten over a partitioned corpus: documents laid out by
    * source, then every doc whose id falls on the deterministic deletion
    * formula (`doc_id % 97 = 0` — a "deletion request" the oracle can
    * replay) is surgically removed via
    * [[graft.sources.Sources.deletePartitioned]] — only partitions holding
    * a doomed id are rewritten, the rest stay byte-identical (SourcesSpec
    * asserts the untouched-files invariant on a hand layout). The entry
    * reads the post-delete layout back and profiles it per source; the
    * oracle is the anti-join the delete must be indistinguishable from. */
  def qGdprDelete(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"gdpr:$dir") { path =>
      val docs = Tables.parquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      Sources.writePartitioned(docs, path, "source")
      Sources.deletePartitioned(s, path, "source", "doc_id",
        docs.where(col("doc_id") % 97 === 0).select(col("doc_id")))
    }
    Tables.parquet(s, layout)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("tot_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** TIME TRAVEL over a versioned snapshot store
    * ([[graft.sources.Versioned]] — the lakehouse manifest discipline on
    * plain parquet): commit v1 = the full orders snapshot bucketed by
    * o_orderkey mod 16; commit v2 = a copy-on-write upsert doubling the
    * price of keys with `o_orderkey % 64 < 4` (a delta confined to buckets
    * 0–3, so 12 of 16 buckets are never rewritten — VersionedSpec asserts
    * byte-identity); then read BOTH versions through their manifests and
    * aggregate. The v1 row proves time travel reads pre-commit state after
    * later commits exist; the oracle computes both versions relationally
    * (the manifest machinery must be result-invisible). DECIMAL-e4 integer
    * price sums per the float-determinism discipline. */
  def qTimeTravel(s: SparkSession, dir: String): DataFrame =
    Seq(1, 2).map { v =>
      timeTravelAgg(graft.sources.Versioned.readVersion(s, timeTravelLayout(s, dir), v), v)
    }.reduce(_ unionByName _)

  /** The two-version orders store [[qTimeTravel]] and [[qDsv2Travel]]
    * both read (one shared layout, two read surfaces). */
  private def timeTravelLayout(s: SparkSession, dir: String): String =
    graft.operators.Artifacts.sharedPath(s, s"timetravel:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      val delta = orders.where(col("o_orderkey") % 64 < 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sources.Versioned.commitUpsert(s, delta, path, 2, "o_orderkey", "bucket")
    }

  private def timeTravelAgg(df: DataFrame, v: Int): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
          .as("sum_price_e4"),
        sum(when(col("o_orderkey") % 64 < 4, 1).otherwise(0)).cast("long")
          .as("n_delta_keys"))
      .select(lit(v).as("version"), col("n_rows"), col("sum_price_e4"),
        col("n_delta_keys"))

  /** [[qTimeTravel]] THROUGH the DSv2 connector
    * ([[graft.sources.GraftStoreSource]], `format("graftstore")` +
    * `versionAsOf`) — same layout, same aggregation, same oracle VERBATIM:
    * the reader-syntax seam must be result-invisible against the
    * library-API read path it packages (GraftStoreSpec proves the
    * mechanics; this entry puts the seam under the hash gate). */
  def qDsv2Travel(s: SparkSession, dir: String): DataFrame = {
    val layout = timeTravelLayout(s, dir)
    Seq(1, 2).map { v =>
      timeTravelAgg(
        s.read.format("graftstore").option("path", layout)
          .option("versionAsOf", v.toString).load(), v)
    }.reduce(_ unionByName _)
  }

  /** ADDITIVE SCHEMA EVOLUTION under the hash gate — the lakehouse
    * contract `commitUpsert` documents, exercised end to end: v2's delta
    * carries a column (`o_channel`) the v1 base never had. Reading v2
    * spans v1-era files (untouched buckets — never rewritten, the column
    * null-fills via `unionByName(allowMissingColumns)`) and v2 files
    * (where non-delta rows of touched buckets null-fill at rewrite), and
    * a reader pinning v1 never sees the column at all (VersionedSpec pins
    * that half). The entry groups the evolved table by
    * `coalesce(o_channel, 'legacy')` so every null-fill provenance path
    * lands in the output; the oracle recomputes the final state
    * relationally from the delta formulas. */
  def qStoreSchemaEvo(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"schemaevo:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      val delta = orders.where(col("o_orderkey") % 64 < 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_channel",
          concat(lit("ch"), (col("o_orderkey") % 3).cast("string")))
      graft.sources.Versioned.commitUpsert(s, delta, path, 2, "o_orderkey", "bucket")
    }
    graft.sources.Versioned.readVersion(s, layout, 2)
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n_rows"),
        expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
          .as("sum_price_e4"))
  }

  /** VACUUM under the hash gate — the retention story's missing half
    * (snapshot isolation keeps every version readable; vacuum is what
    * finally destroys expired ones, and the GDPR recipe's second step):
    * a three-commit store (base, stripe-doubling v2, disjoint
    * stripe-tripling v3) vacuumed to keep=2. The entry then reads BOTH
    * kept versions — the copy-on-write reference-counting proof: v2 and
    * v3 manifests still point untouched buckets at v1-era FILES, so
    * vacuum must delete only v1 bucket dirs no kept manifest references
    * (the aggregate would corrupt loud if it over-deleted) — while the
    * v1 MANIFEST and its sidecars are gone (`v1_manifest_gone`, computed
    * from `hasVersion`, so a vacuum that under-deletes fails the gate
    * too). Oracle recomputes both kept states from the stripe formulas. */
  def qStoreVacuum(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"vacuum:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      val d2 = orders.where(col("o_orderkey") % 64 < 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sources.Versioned.commitUpsert(s, d2, path, 2, "o_orderkey", "bucket")
      val d3 = orders.where(col("o_orderkey") % 64 >= 60)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      graft.sources.Versioned.commitUpsert(s, d3, path, 3, "o_orderkey", "bucket")
      graft.sources.Versioned.vacuum(path, keep = 2)
    }
    val v1Gone = if (graft.sources.Versioned.hasVersion(layout, 1)) 0 else 1
    Seq(2, 3).map { v =>
      graft.sources.Versioned.readVersion(s, layout, v)
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
            .as("sum_price_e4"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price_e4"),
          lit(v1Gone).as("v1_manifest_gone"))
    }.reduce(_ unionByName _)
  }

  /** SHALLOW CLONE under the hash gate
    * ([[graft.sources.Versioned.cloneShallow]] — the zero-copy
    * dev/test-environment op every lakehouse user reaches for): the source
    * store commits base + a stripe-doubling v2, the clone references v2's
    * FILES with a manifest-sized write (zero data copy — CloneSpec counts
    * zero parquet files under the clone before divergence), then DIVERGES
    * by committing a disjoint stripe-tripling upsert of its own. The gate
    * carries three snapshots: the clone's v1 (must equal the source's v2 —
    * reads resolve through cross-directory references), the clone's
    * post-divergence v2, and the source's v2 READ AFTER the divergence
    * (must still equal its pre-clone state — the source is never written).
    * `n_diverged_buckets` carries the copy-on-write evidence: exactly the
    * tripled stripe's buckets point at clone-local files, every other
    * entry still references the source (the oracle recomputes the count
    * from the stripe formula). At 100 TB a clone costs one manifest write;
    * divergence costs only the touched buckets — the same O(delta)
    * argument the commit log makes, stretched across directories. */
  def qStoreClone(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"storeclone:$dir") { path =>
      val src = s"$path/src"; val dst = s"$path/dst"
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, src, "bucket", 16)
      val d2 = orders.where(col("o_orderkey") % 64 < 4)
        .withColumn("price_e4", col("price_e4") * 2)
      graft.sources.Versioned.commitUpsert(s, d2, src, 2, "o_orderkey", "bucket")
      graft.sources.Versioned.cloneShallow(src, dst, 2)
      val d3 = graft.sources.Versioned.readVersion(s, dst, 1)
        .where(col("o_orderkey") % 64 >= 60)
        .withColumn("price_e4", col("price_e4") * 3)
      graft.sources.Versioned.commitUpsert(s, d3, dst, 2, "o_orderkey", "bucket")
    }
    val (src, dst) = (s"$layout/src", s"$layout/dst")
    val nDiverged = graft.sources.Versioned.readManifest(dst, 2)
      .values.count(v => v > 0 && v < graft.sources.Versioned.ExtBase)
    def snap(df: DataFrame, label: String, diverged: Int) =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("price_e4")).cast("long").as("sum_price_e4"))
        .select(lit(label).as("snapshot"), col("n_rows"), col("sum_price_e4"),
          lit(diverged).as("n_diverged_buckets"))
    snap(graft.sources.Versioned.readVersion(s, dst, 1), "clone_v1", 0)
      .unionByName(snap(graft.sources.Versioned.readVersion(s, dst, 2),
        "clone_v2", nDiverged))
      .unionByName(snap(graft.sources.Versioned.readVersion(s, src, 2),
        "src_v2", 0))
  }

  /** STREAMING CDC APPLY into the versioned store — the lakehouse ingest
    * loop: a change-delta STREAM (file source, one delta file per
    * micro-batch) lands on the [[graft.sources.Versioned]] table through
    * `foreachBatch`, each batch committing version `batchId + 2` over the
    * base snapshot IFF that version's manifest doesn't already exist
    * ([[graft.sources.Versioned.hasVersion]] keyed on the DETERMINISTIC
    * batch id — the Delta txn-app-id discipline, so a restart's replayed
    * batch commits nothing twice and at-least-once delivery becomes
    * exactly-once table state; CdcStreamSpec kills and resumes a stream
    * mid-apply to prove it). The entry emits the base and final states
    * through their manifests; batch BOUNDARIES are not part of the
    * contract (upserts of disjoint key sets commute), so the hash gate
    * pins base + final while the spec pins the versioning mechanics.
    * Oracle computes both states relationally. */
  def qCdcStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"cdcstream:$dir") { path =>
      val table = s"$path/table"
      val inDir = s"$path/in"
      val ckpt = s"$path/ckpt"
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, table, "bucket", 16)
      val delta = orders.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      // four delta files -> four micro-batches (maxFilesPerTrigger=1)
      (0 until 4).foreach { c =>
        delta.where(col("o_orderkey") % 4 === c).coalesce(1)
          .write.mode("append").parquet(inDir)
      }
      val stream = fork.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          val v = batchId.toInt + 2
          if (!graft.sources.Versioned.hasVersion(table, v))
            graft.sources.Versioned.commitUpsert(b.sparkSession, b, table, v,
              "o_orderkey", "bucket")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val table = s"$layout/table"
    val vLast = graft.sources.Versioned.latestVersion(table)
    Seq("base" -> 1, "final" -> vLast).map { case (tag, v) =>
      graft.sources.Versioned.readVersion(fork, table, v)
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
            .as("sum_price_e4"),
          sum(when(col("o_orderkey") % 10 === 3, 1).otherwise(0)).cast("long")
            .as("n_delta_keys"))
        .select(lit(tag).as("version_tag"), col("n_rows"), col("sum_price_e4"),
          col("n_delta_keys"))
    }.reduce(_ unionByName _)
  }

  /** [[qCdcStream]] through the NATIVE STREAMING SINK —
    * `writeStream.format("graftstore")`, no `foreachBatch` harness and no
    * hand-written version guard: the sink itself maps micro-batch
    * `batchId + 2` to an upsert commit and skips replayed ids (the
    * txn-app-id discipline MOVED INTO the connector, where a production
    * table format keeps it). Same four-stripe delta staging, same
    * exactly-once table state, oracle = [[qCdcStream]]'s VERBATIM — one
    * ingest contract, two consumption surfaces; with [[qStoreCdfStream]]
    * on the read side the table now has full streaming symmetry
    * (`readStream` tails the change feed, `writeStream` feeds commits).
    * GraftSinkSpec pins the mechanics the gate can't see: per-batch
    * version mapping, kill-and-resume without re-application, replay
    * no-ops, and the mode/partitioning guards. */
  def qStoreSinkStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"storesink:$dir") { path =>
      val table = s"$path/table"
      val inDir = s"$path/in"
      val ckpt = s"$path/ckpt"
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, table, "bucket", 16)
      val delta = orders.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      (0 until 4).foreach { c =>
        delta.where(col("o_orderkey") % 4 === c).coalesce(1)
          .write.mode("append").parquet(inDir)
      }
      val q = fork.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream.format("graftstore")
        .option("path", table).option("keyCol", "o_orderkey")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val table = s"$layout/table"
    val vLast = graft.sources.Versioned.latestVersion(table)
    Seq("base" -> 1, "final" -> vLast).map { case (tag, v) =>
      graft.sources.Versioned.readVersion(fork, table, v)
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
            .as("sum_price_e4"),
          sum(when(col("o_orderkey") % 10 === 3, 1).otherwise(0)).cast("long")
            .as("n_delta_keys"))
        .select(lit(tag).as("version_tag"), col("n_rows"), col("sum_price_e4"),
          col("n_delta_keys"))
    }.reduce(_ unionByName _)
  }

  /** STREAMING CDC with MIXED OPS — the real change feed shape (`op`
    * column: 'U' upsert / 'D' delete) applied through
    * [[graft.sources.Versioned.commitMerge]], the MERGE INTO commit:
    * WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT, and WHEN MATCHED
    * DELETE land in ONE copy-on-write pass per micro-batch — a bucket
    * touched by both an update and a delete rewrites once, not twice,
    * and no version number is burned per op kind. Exactly-once is the
    * `q_cdc_stream` txn-app-id discipline verbatim (commit `batchId + 2`
    * iff absent). Change set: keys `o_orderkey % 10 = 3`, split
    * deterministically into deletes (`% 20 = 3`) and price-tripling
    * updates (`% 20 = 13`); batch boundaries stay out of contract
    * (batches carry disjoint keys, so merges commute) and the hash gate
    * pins base + final states relationally — the deleted stripe GONE,
    * the updated stripe tripled, everything else untouched. */
  def qCdcMergeStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"cdcmerge:$dir") { path =>
      val table = s"$path/table"
      val inDir = s"$path/in"
      val ckpt = s"$path/ckpt"
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, table, "bucket", 16)
      val changes = orders.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 20 === 13, col("o_totalprice") * 3)
            .otherwise(col("o_totalprice")))
        .withColumn("op",
          when(col("o_orderkey") % 20 === 3, "D").otherwise("U"))
      (0 until 4).foreach { c =>
        changes.where(expr("(o_orderkey DIV 10) % 4") === c).coalesce(1)
          .write.mode("append").parquet(inDir)
      }
      val stream = fork.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          val v = batchId.toInt + 2
          if (!graft.sources.Versioned.hasVersion(table, v))
            graft.sources.Versioned.commitMerge(b.sparkSession, b, table, v,
              "o_orderkey", "bucket")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val table = s"$layout/table"
    val vLast = graft.sources.Versioned.latestVersion(table)
    Seq("base" -> 1, "final" -> vLast).map { case (tag, v) =>
      graft.sources.Versioned.readVersion(fork, table, v)
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
            .as("sum_price_e4"),
          sum(when(col("o_orderkey") % 20 === 3, 1).otherwise(0)).cast("long")
            .as("n_del_stripe"),
          sum(when(col("o_orderkey") % 20 === 13, 1).otherwise(0)).cast("long")
            .as("n_upd_stripe"))
        .select(lit(tag).as("version_tag"), col("n_rows"), col("sum_price_e4"),
          col("n_del_stripe"), col("n_upd_stripe"))
    }.reduce(_ unionByName _)
  }

  /** STREAMING GDPR — delete REQUESTS as a stream, applied through
    * `foreachBatch` to the versioned store (r9 verdict #7, completing the
    * streaming × GDPR matrix: `q_cdc_stream` streams upserts in,
    * `dedup_gdpr_cascade`/`ann_nsw_gdpr` scrub derived artifacts, this
    * streams the forget requests themselves). Mechanics are
    * `q_cdc_stream`'s exactly-once discipline verbatim — each micro-batch
    * commits version `batchId + 2` IFF its manifest doesn't exist (the
    * Delta txn-app-id guard; GdprStreamSpec kills and resumes a stream
    * mid-apply) — but the commit is [[graft.sources.Versioned.commitDelete]]
    * (bucket-scoped anti-join rewrite, delete-sized work), and the run
    * ends with [[graft.sources.Versioned.vacuum]] retaining only the
    * final version: the COMPLETE forget, because snapshot isolation means
    * every pre-delete version still serves the doomed rows until its
    * files expire (the production table formats' documented GDPR recipe).
    * GdprStreamSpec additionally asserts no doomed key survives in ANY
    * file on disk after the vacuum. Batch boundaries are out of contract
    * (disjoint doomed-key deletes commute); the hash gate pins the final
    * state = the plain anti-join, same oracle as `q_gdpr_delete`. */
  def qGdprStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"gdprstream:$dir") { path =>
      val table = s"$path/table"
      val inDir = s"$path/in"
      val ckpt = s"$path/ckpt"
      val docs = Tables.parquet(fork, s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("bucket", (col("doc_id") % 16).cast("int"))
      graft.sources.Versioned.commitBase(docs, table, "bucket", 16)
      val doomed = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("bucket"))
      // four request files -> four micro-batches (maxFilesPerTrigger=1)
      (0 until 4).foreach { c =>
        doomed.where((col("doc_id") / 97) % 4 === c).coalesce(1)
          .write.mode("append").parquet(inDir)
      }
      val stream = fork.readStream.schema(doomed.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          val v = batchId.toInt + 2
          if (!graft.sources.Versioned.hasVersion(table, v))
            graft.sources.Versioned.commitDelete(b.sparkSession, b, table, v,
              "doc_id", "bucket")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.sources.Versioned.vacuum(table, keep = 1)
    }
    val table = s"$layout/table"
    val vLast = graft.sources.Versioned.latestVersion(table)
    graft.sources.Versioned.readVersion(fork, table, vLast)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("tot_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** ZONE-MAP pruned range read over the versioned store
    * ([[graft.sources.Versioned.readVersionWhere]]): orders committed with
    * o_orderkey-mod-16 buckets and per-bucket (min, max) ORDER-DAY stats
    * beside the manifest; a half-year range read consults the zone maps
    * and PRUNES buckets whose recorded day range misses the predicate
    * before any file IO — the commit-log twin of `q_zorder_prune`'s
    * layout-level skipping. Bucketing POLICY is what gives zone maps
    * teeth: bucketing by the hash of a key (the upsert-friendly choice,
    * `q_time_travel`'s layout) leaves every bucket spanning every date, so
    * maps prune nothing; here the table is bucketed by a DATE-derived
    * value (160-day stripes mod 16 — the time-partitioned fact-table
    * convention), so a half-year read overlaps ~2 of 16 buckets and the
    * maps skip the rest. The entry emits the read-bucket count so the
    * ORACLE pins exactly how much was skipped — the skipping is part of
    * the hash-gated contract, not a plan-inspection claim. Oracle = the
    * plain filter + the bucket count recomputed relationally from the
    * same min/max definition. */
  def qZonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val layout = zonemapLayout(s, dir)
    val (lo, hi) = ZonemapRange
    val (df, read) = graft.sources.Versioned.readVersionWhere(
      s, layout, 1, "order_day", lo, hi)
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
          .as("sum_price_e4"))
      .withColumn("n_buckets_read", lit(read.size))
  }

  /** The date-striped orders store [[qZonemapPrune]] and [[qDsv2Skip]]
    * both read. */
  private def zonemapLayout(s: SparkSession, dir: String): String =
    graft.operators.Artifacts.sharedPath(s, s"zonemap:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .withColumn("order_day", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .withColumn("bucket", expr("cast((order_day div 160) % 16 as int)"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      graft.sources.Versioned.writeStats(s, path, 1, "order_day")
      graft.sources.Versioned.writeRowCounts(s, path, 1)
    }

  private val ZonemapRange = (
    java.time.LocalDate.of(1995, 1, 1).toEpochDay,
    java.time.LocalDate.of(1995, 6, 30).toEpochDay)

  /** [[qZonemapPrune]] THROUGH the DSv2 connector: the range predicate is
    * a plain `.where` on the loaded frame — Catalyst pushes it into the
    * scan (`SupportsPushDownFilters`), the scan consults the zone-map
    * sidecar ([[graft.sources.Versioned.writeStats]]' recorded `#col`) and
    * prunes buckets BEFORE file IO. `n_buckets_read` carries the same
    * skip-decision function the scan calls
    * ([[graft.sources.GraftStoreSource.zoneKeepBuckets]] — one rule, both
    * consumers; GraftStoreSpec proves behaviorally that the scan consults
    * the sidecar), and the oracle is [[qZonemapPrune]]'s VERBATIM. */
  def qDsv2Skip(s: SparkSession, dir: String): DataFrame = {
    val layout = zonemapLayout(s, dir)
    val (lo, hi) = ZonemapRange
    val nRead = graft.sources.GraftStoreSource.zoneKeepBuckets(layout, 1, lo, hi).size
    s.read.format("graftstore").option("path", layout).load()
      .where(col("order_day").between(lo, hi))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
          .as("sum_price_e4"))
      .withColumn("n_buckets_read", lit(nRead))
  }

  /** BLOOM SKIP INDEX on the versioned store — the point-lookup half of
    * table-format file statistics ([[qZonemapPrune]] is the range half;
    * production formats pair zone maps with per-file bloom column
    * indexes): commit the customer snapshot bucketed by `c_custkey mod
    * 16`, write a per-bucket corpus-adaptive bloom over the key column
    * into the commit log ([[graft.sources.Versioned.writeBloomIndex]]),
    * then serve a bounded point-lookup batch — 6 present keys (every
    * 97th, first 6 in key order) plus the same 6 offset by max key + 1
    * (guaranteed absent) — through
    * [[graft.sources.Versioned.lookupKeys]]: the probe batch is tested
    * against every bucket's filter (metadata work, no IO — the index
    * assumes nothing about key→bucket placement, exactly like file-level
    * bloom skipping over an unclustered column), and only may-contain
    * buckets are scanned. The output gates the rows AND `n_buckets_read`
    * — the skip evidence itself is hash-checked: DuckDB replays every
    * per-bucket width, the d=3 position sets, and the all-positions-
    * present test (distinct-position counting on both sides, so a
    * within-key position collision cannot diverge the engines). Without
    * the index a key-equality scan over these uniformly-spread keys
    * reads every bucket — zone maps cannot help; that miss-shaped
    * workload is precisely what bloom indexes exist for. VersionedSpec
    * pins the mechanics: no false negatives, absent-only probes skip
    * (near-)everything, rows equal the direct filter. */
  def qStoreBloomSkip(s: SparkSession, dir: String): DataFrame = {
    val layout = bloomSkipLayout(s, dir)
    val probes = bloomSkipProbes(s, dir)
    val (rows, read) = graft.sources.Versioned.lookupKeys(
      s, layout, 1, "c_custkey", probes)
    rows.select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"))
      .withColumn("n_buckets_read", lit(read.size))
  }

  /** The bloom-indexed customer store [[qStoreBloomSkip]] and
    * [[qDsv2Lookup]] both read. */
  private def bloomSkipLayout(s: SparkSession, dir: String): String =
    graft.operators.Artifacts.sharedPath(s, s"bloomskip:$dir") { path =>
      val cust = Tables.parquet(s, s"$dir/customer.parquet")
        .withColumn("bucket", pmod(col("c_custkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(cust, path, "bucket", 16)
      graft.sources.Versioned.writeBloomIndex(s, path, 1, "c_custkey")
    }

  /** The bounded point-lookup batch: 6 present keys + the same 6 offset
    * beyond the max key (guaranteed absent). */
  private def bloomSkipProbes(s: SparkSession, dir: String): Seq[Long] = {
    val cust = Tables.parquet(s, s"$dir/customer.parquet")
    val present = cust.where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey")).orderBy(col("c_custkey")).limit(6)
      .collect().map(_.getLong(0)).toSeq
    val maxKey = cust.agg(max(col("c_custkey"))).head().getLong(0)
    present ++ present.map(_ + maxKey + 1)
  }

  /** The connector from PLAIN SQL TEXT — no DataFrame API anywhere: both
    * versions are registered through DDL
    * (`CREATE TEMPORARY VIEW ... USING graftstore OPTIONS (path, versionAsOf)`)
    * and the whole query is one SQL string over them — the
    * "consumable from SQL / BI tools" claim made checkable. Oracle is
    * [[qTimeTravel]]'s VERBATIM (three surfaces, one result: library API,
    * reader API, SQL). */
  def qDsv2Sql(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = timeTravelLayout(fork, dir)
    Seq(1, 2).foreach { v =>
      fork.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_store_v$v " +
        s"USING graftstore OPTIONS (path '$layout', versionAsOf '$v')")
    }
    def one(v: Int) =
      s"""SELECT $v AS version, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
         |  CAST(sum(CASE WHEN o_orderkey % 64 < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_keys
         |FROM graft_store_v$v""".stripMargin
    fork.sql(one(1) + "\nUNION ALL\n" + one(2))
  }

  /** The connector's WRITE path under the hash gate
    * ([[graft.sources.GraftStoreWriteBuilder]], the [[qDsv2Sql]] claim's
    * other half: a table you can only read is a demo): base v1 commits via
    * the library API, then the SAME delta [[qTimeTravel]] lands through the
    * Scala `commitUpsert` arrives here through PLAIN SQL — `CREATE
    * TEMPORARY VIEW ... USING graftstore` + `INSERT INTO` — which maps to
    * [[graft.sources.Versioned.commitUpsert]] at version 2 with the
    * `keyCol` table option. Reading both versions back re-serves
    * [[qTimeTravel]]'s oracle VERBATIM: the write seam must be
    * result-invisible against the library write path it packages (three
    * write surfaces now — library API, DataFrameWriter, SQL INSERT — one
    * committed state). GraftStoreSpec pins the mechanics: untouched-bucket
    * byte-identity under the SQL commit, `commitVersion` idempotent replay
    * (the txn-app-id discipline), `INSERT OVERWRITE` = commitRewrite,
    * pinned-view write rejection, and bootstrap-from-empty. */
  def qDsv2Write(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"dsv2write:$dir") { path =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .withColumn("bucket", (col("o_orderkey") % 16).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      fork.sql("CREATE OR REPLACE TEMPORARY VIEW graft_store_w " +
        s"USING graftstore OPTIONS (path '$path', keyCol 'o_orderkey')")
      // the delta in the TABLE's column order (partition col reads back
      // last) — INSERT matches by position, exactly like any SQL table
      val tableCols = fork.read.format("graftstore").option("path", path)
        .load().columns
      orders.where(col("o_orderkey") % 64 < 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .select(tableCols.map(col).toSeq: _*)
        .createOrReplaceTempView("graft_dsv2_delta")
      fork.sql("INSERT INTO graft_store_w SELECT * FROM graft_dsv2_delta")
    }
    Seq(1, 2).map { v =>
      timeTravelAgg(
        fork.read.format("graftstore").option("path", layout)
          .option("versionAsOf", v.toString).load(), v)
    }.reduce(_ unionByName _)
  }

  /** SQL `MERGE INTO` on the store ([[graft.sources.GraftRowLevelRewrite]]
    * → [[graft.sources.Versioned.commitMerge]], r15 — "the very next
    * statement a table user types" per the r14 verdict): ONE MERGE
    * statement carries the exact mutation set the library-API change-feed
    * layout applies in two commits — a flagged matched DELETE (the
    * bucket-9 stripe), matched `UPDATE SET *` (bucket-3 stripe, price
    * doubled), `NOT MATCHED INSERT *` (bucket-5 stripe shifted past the
    * max key) — as ONE copy-on-write commit, and the read-back change feed
    * `changes(1, 2)` re-serves [[qStoreChanges]]'s oracle VERBATIM
    * (I/U/D rows AND the 3-bucket IO evidence): the SQL row-level surface
    * must be result-invisible against the library writes it packages.
    * At 100 TB the MERGE is one broadcast-or-shuffle join (source is
    * delta-scale) plus rewrites of exactly the touched buckets —
    * commitMerge's cost shape, now reachable from SQL text.
    * GraftRowLevelSpec pins the mechanics (first-match-wins, cardinality
    * violation, key-moving update, statement idempotence). */
  def qStoreSqlMerge(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.experimental.extraOptimizations =
      fork.experimental.extraOptimizations :+ graft.sources.GraftRowLevelRewrite
    val layout = graft.operators.Artifacts.sharedPath(s, s"storesqlmerge:$dir") { path =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      val k0 = (orders.agg(max(col("o_orderkey"))).head().getLong(0) / 16 + 1) * 16
      fork.sql("CREATE OR REPLACE TEMPORARY VIEW graft_merge_t " +
        s"USING graftstore OPTIONS (path '$path', keyCol 'o_orderkey')")
      val upd = orders
        .where(expr("o_orderkey % 16 = 3 AND (o_orderkey div 16) % 2 = 0"))
        .withColumn("price_e4", col("price_e4") * 2).withColumn("is_del", lit(0))
      val ins = orders.where(expr("o_orderkey % 16 = 5"))
        .withColumn("o_orderkey", col("o_orderkey") + k0)
        .withColumn("price_e4", col("price_e4") + 7).withColumn("is_del", lit(0))
      val del = orders
        .where(expr("o_orderkey % 16 = 9 AND (o_orderkey div 16) % 3 = 0"))
        .withColumn("is_del", lit(1))
      upd.unionByName(ins).unionByName(del)
        .createOrReplaceTempView("graft_merge_src")
      fork.sql(
        """MERGE INTO graft_merge_t USING graft_merge_src src
          |ON graft_merge_t.o_orderkey = src.o_orderkey
          |WHEN MATCHED AND src.is_del = 1 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    val (cdf, read) =
      graft.sources.Versioned.changes(fork, layout, 1, 2, "o_orderkey")
    cdf.select(col("op"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_e4"))
      .withColumn("n_buckets_read", lit(read.size))
  }

  /** SQL `UPDATE` on the store (the [[qStoreSqlMerge]] machinery's
    * single-table statement): `UPDATE ... SET price_e4 = price_e4 + 5
    * WHERE o_orderstatus = 'F' AND o_orderkey % 32 = 7` — a predicate on a
    * NON-key column composed with a key stripe that lands entirely in
    * bucket 7 (k ≡ 7 mod 32 ⇒ k mod 16 = 7), so the read-back change feed
    * proves single-bucket copy-on-write: `n_buckets_read` = 1, every other
    * bucket's bytes untouched. The oracle recomputes the stripe's updated
    * rows relationally. */
  def qStoreSqlUpdate(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.experimental.extraOptimizations =
      fork.experimental.extraOptimizations :+ graft.sources.GraftRowLevelRewrite
    val layout = graft.operators.Artifacts.sharedPath(s, s"storesqlupdate:$dir") { path =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      fork.sql("CREATE OR REPLACE TEMPORARY VIEW graft_upd_t " +
        s"USING graftstore OPTIONS (path '$path', keyCol 'o_orderkey')")
      fork.sql("UPDATE graft_upd_t SET price_e4 = price_e4 + 5 " +
        "WHERE o_orderstatus = 'F' AND o_orderkey % 32 = 7")
    }
    val (cdf, read) =
      graft.sources.Versioned.changes(fork, layout, 1, 2, "o_orderkey")
    cdf.select(col("op"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_e4"))
      .withColumn("n_buckets_read", lit(read.size))
  }

  /** SQL `DELETE FROM` on the store (`SupportsDelete`, r15): the doomed
    * keys arrive as a plain `IN` predicate on the key column, the
    * connector routes them through the BLOOM-pruned lookup into
    * [[graft.sources.Versioned.commitDelete]] — only may-contain buckets
    * are read, only key-holding buckets rewritten. Both versions then
    * serve side by side: v1 still carries all 8 doomed keys (snapshot
    * isolation — DELETE is a commit, not an erase), v2 carries none and
    * is 8 rows lighter. The doomed set is the 8 smallest keys of the
    * `% 64 = 1` stripe, re-derivable relationally by the oracle. */
  def qStoreSqlDelete(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"storesqldelete:$dir") { path =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      graft.sources.Versioned.writeBloomIndex(fork, path, 1, "o_orderkey")
      val doomed = orders.where(col("o_orderkey") % 64 === 1)
        .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(8)
        .collect().map(_.getLong(0))
      fork.sql("CREATE OR REPLACE TEMPORARY VIEW graft_del_t " +
        s"USING graftstore OPTIONS (path '$path', keyCol 'o_orderkey')")
      fork.sql("DELETE FROM graft_del_t " +
        s"WHERE o_orderkey IN (${doomed.mkString(", ")})")
    }
    def agg(v: Int) = fork.read.format("graftstore").option("path", layout)
      .option("versionAsOf", v.toString).load()
      .agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"),
        sum(when(col("o_orderkey") % 64 === 1, 1L).otherwise(0L))
          .as("n_stripe_keys"))
      .select(lit(v).as("version"), col("n_rows"), col("sum_price_e4"),
        col("n_stripe_keys"))
    agg(1).unionByName(agg(2))
  }

  /** ADDITIVE SCHEMA EVOLUTION through SQL `INSERT INTO` (r15, closing the
    * r14 verdict's library/SQL asymmetry): the table declares
    * `ACCEPT_ANY_SCHEMA` and resolves inserts itself
    * ([[graft.sources.GraftStoreWrites.resolveAgainstTable]]), so an
    * INSERT whose SELECT carries a brand-new column maps to the additive
    * evolution [[graft.sources.Versioned.commitUpsert]] already supports —
    * but ONLY when the view opts in (`evolveSchema 'true'`); a typo'd
    * column must fail, not fork the schema. The entry proves the
    * `store_schema_evo` contract through SQL: the evolved version serves
    * the new column (null for untouched-key provenance), while a
    * `versionAsOf 1` pinned read NEVER sees it. */
  def qStoreSqlEvolve(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"storesqlevolve:$dir") { path =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      fork.sql("CREATE OR REPLACE TEMPORARY VIEW graft_evo_t " +
        s"USING graftstore OPTIONS (path '$path', keyCol 'o_orderkey', " +
        "evolveSchema 'true')")
      // the delta: bucket-11 stripe doubled, PLUS a new column the base
      // schema lacks (the priority rank every re-score pipeline appends)
      orders.where(expr("o_orderkey % 16 = 11 AND (o_orderkey div 16) % 2 = 0"))
        .withColumn("price_e4", col("price_e4") * 2)
        .withColumn("rank_e2", (col("price_e4") % 100).cast("int"))
        .createOrReplaceTempView("graft_evo_delta")
      fork.sql("INSERT INTO graft_evo_t SELECT * FROM graft_evo_delta")
    }
    def agg(v: Int) = {
      val t = fork.read.format("graftstore").option("path", layout)
        .option("versionAsOf", v.toString).load()
      val hasRank = t.columns.contains("rank_e2")
      t.agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"),
        (if (hasRank) sum(when(col("rank_e2").isNotNull, 1L).otherwise(0L))
         else lit(0L)).as("n_ranked"))
        .select(lit(v).as("version"), lit(t.columns.length).as("n_cols"),
          col("n_rows"), col("sum_price_e4"), col("n_ranked"))
    }
    agg(1).unionByName(agg(2))
  }

  /** TABLE-TO-TABLE STREAMING HOP — the bronze→silver medallion
    * composition both r14 halves exist for (r14 verdict, What's missing
    * #4): `readStream.format("graftstore")` tails store A's commit log
    * (one commit per trigger, AvailableNow), the in-flight frame drops
    * the feed metadata, and `writeStream.format("graftstore")` lands each
    * micro-batch as store B's commit at `batchId + firstVersion` — A's v2
    * becomes B's v2, A's v3 becomes B's v3, offsets checkpointed, replay
    * guarded by B's txn markers. The gate: BOTH stores' final states
    * aggregate identically (the hop is content-invisible), re-derived
    * relationally by the oracle. A delete-free history (two upsert
    * commits) keeps the hop honest: the sink's contract is upsert-on-key,
    * so the staged source applies I/U feeds — the CDC-apply shape.
    * GraftHopSpec adds the kill-mid-hop resume proof. */
  def qStoreStreamHop(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layoutB = graft.operators.Artifacts.sharedPath(s, s"storehop:$dir") { pathB =>
      val pathA = s"$pathB-src"
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      // store A: base + two upsert commits (the stripes the oracle rederives)
      graft.sources.Versioned.commitBase(orders, pathA, "bucket", 16)
      val v2 = orders.where(expr("o_orderkey % 16 = 3"))
        .withColumn("price_e4", col("price_e4") * 2)
      graft.sources.Versioned.commitUpsert(fork, v2, pathA, 2, "o_orderkey", "bucket")
      val k0 = (orders.agg(max(col("o_orderkey"))).head().getLong(0) / 16 + 1) * 16
      val v3 = orders.where(expr("o_orderkey % 16 = 5"))
        .withColumn("o_orderkey", col("o_orderkey") + k0)
        .withColumn("price_e4", col("price_e4") + 7)
      graft.sources.Versioned.commitUpsert(fork, v3, pathA, 3, "o_orderkey", "bucket")
      // store B: the same base, then the hop replays A's commits into it
      graft.sources.Versioned.commitBase(orders, pathB, "bucket", 16)
      val ckpt = StreamScratch.fresh("storehop").toString
      val q = fork.readStream.format("graftstore")
        .option("path", pathA).option("keyCol", "o_orderkey")
        .option("maxVersionsPerTrigger", 1).load()
        .where(col("op") =!= "D") // upsert feed: I/U net rows carry payload
        .select(col("o_orderkey"), col("o_custkey"), col("price_e4"), col("bucket"))
        .writeStream.format("graftstore")
        .option("path", pathB).option("keyCol", "o_orderkey")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def agg(store: String, path: String) = {
      val t = graft.sources.Versioned.readVersion(fork, path,
        graft.sources.Versioned.latestVersion(path))
      t.agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"))
        .select(lit(store).as("store"),
          lit(graft.sources.Versioned.latestVersion(path)).as("n_versions"),
          col("n_rows"), col("sum_price_e4"))
    }
    agg("A", s"$layoutB-src").unionByName(agg("B", layoutB))
  }

  /** The FULL-CDC streaming hop — [[qStoreStreamHop]] with DELETES (r15):
    * the sink's `opCol` mode commits each op-tagged micro-batch through
    * [[graft.sources.Versioned.commitMerge]] ('D' rows delete their key,
    * everything else upserts — one mixed copy-on-write commit per batch),
    * so a change-feed hop replicates a table's WHOLE mutation history, not
    * just its inserts/updates. Store A is the shared three-version
    * change-feed layout (base, upsert commit, DELETE commit); the hop
    * replays its feed into B commit-for-commit, and the gate proves B's
    * final state equals A's — including the delete stripe's absence
    * (`n_del_present` = 0 on both sides). This closes the last asymmetry
    * in the streaming table surface: source, sink, and now the op
    * vocabulary between them. */
  def qStoreHopCdc(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layoutA = storeChangesLayout(fork, dir)
    val layoutB = graft.operators.Artifacts.sharedPath(s, s"storehopcdc:$dir") { pathB =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, pathB, "bucket", 16)
      val ckpt = StreamScratch.fresh("storehopcdc").toString
      val q = fork.readStream.format("graftstore")
        .option("path", layoutA).option("keyCol", "o_orderkey")
        .option("maxVersionsPerTrigger", 1).load()
        .select(col("op"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("price_e4"), col("bucket"))
        .writeStream.format("graftstore")
        .option("path", pathB).option("keyCol", "o_orderkey")
        .option("opCol", "op")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def agg(store: String, path: String) = {
      val t = graft.sources.Versioned.readVersion(fork, path,
        graft.sources.Versioned.latestVersion(path))
      t.agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"),
        sum(when(expr("o_orderkey % 16 = 9 AND (o_orderkey div 16) % 3 = 0"),
          1L).otherwise(0L)).as("n_del_present"))
        .select(lit(store).as("store"),
          lit(graft.sources.Versioned.latestVersion(path)).as("n_versions"),
          col("n_rows"), col("sum_price_e4"), col("n_del_present"))
    }
    agg("A", layoutA).unionByName(agg("B", layoutB))
  }

  /** METADATA-ONLY aggregation through the connector
    * (`SupportsPushDownAggregates`, complete pushdown): a global
    * COUNT(*) / MIN / MAX over the zone column is answered from the
    * commit-log sidecars — row counts summed, zone mins/maxes folded —
    * with ZERO data IO; the scan returns the one final row. This is the
    * statistics query every production table format serves from its
    * manifest. GraftStoreSpec proves the mechanics (PushedAggregates in
    * the plan; the answer survives deleting every data file; inexact
    * shapes — filters, groupings, other columns — decline to a data
    * scan); the oracle pins the VALUES against the raw table. At 100 TB:
    * a table-wide count or freshness watermark costs a sidecar read, not
    * a scan. */
  def qDsv2Agg(s: SparkSession, dir: String): DataFrame = {
    val layout = zonemapLayout(s, dir)
    s.read.format("graftstore").option("path", layout).load()
      .agg(count(lit(1)).as("n_rows"),
        min(col("order_day")).as("min_day"),
        max(col("order_day")).as("max_day"))
  }

  /** Statistics-driven AUTO-BROADCAST through the connector
    * (`SupportsReportStatistics`, r15): the scan reports its real
    * footprint — pruned buckets' on-disk bytes × pruned/full column-width
    * ratio, row counts from the commit-log sidecar — so Catalyst sizes the
    * join itself: the customer fact joined to a graftstore-backed nation
    * dimension plans a BroadcastHashJoin with NO hint anywhere. Without
    * the stats, a DSv2 scan is `defaultSizeInBytes` ("assume huge") and
    * every such join shuffles both sides — at 100 TB the difference
    * between a map-side join and a full fact-table shuffle. GraftStatsSpec
    * pins the mechanics (reported bytes == filesystem bytes, sidecar rows,
    * bloom-pruned shrinkage, the hint-free BroadcastHashJoin); the oracle
    * pins the join's VALUES. */
  def qStoreStatsJoin(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"statsjoin:$dir") { path =>
      val nation = Tables.parquet(fork, s"$dir/nation.parquet")
        .withColumn("bucket", pmod(col("n_nationkey"), lit(4)).cast("int"))
      graft.sources.Versioned.commitBase(nation, path, "bucket", 4)
      graft.sources.Versioned.writeRowCounts(fork, path, 1)
    }
    val nat = fork.read.format("graftstore").option("path", layout).load()
    Tables.parquet(fork, s"$dir/customer.parquet")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        expr("cast(sum(cast(c_acctbal as decimal(18,4))) * 10000 as bigint)")
          .as("sum_bal_e4"))
  }

  /** The NAME-typed table lifecycle — [[graft.sources.GraftCatalog]], a
    * real `TableCatalog` over a warehouse of versioned stores (r15): every
    * statement here is PLAIN SQL against a catalog-qualified name, no path
    * and no DataFrame API anywhere after staging — `CREATE NAMESPACE`,
    * `CREATE TABLE ... USING graftstore OPTIONS (...)`, a bootstrap
    * `INSERT INTO` (commit v1), an upsert `INSERT INTO` (commit v2), then
    * the SQL time-travel syntax itself: `VERSION AS OF 1 / 2` resolving
    * through `TableCatalog.loadTable(ident, version)`. Same staged content
    * as [[qTimeTravel]], so the oracle is q_time_travel's VERBATIM — the
    * FOURTH surface serving one snapshot-resolution rule (library API,
    * reader options, DDL-view SQL, and now catalog time-travel syntax).
    * GraftCatalogSpec pins the lifecycle mechanics (SHOW TABLES, DROP,
    * RENAME preserving history, declared-schema empty reads, timestamp
    * travel). At 100 TB the catalog is pure metadata: list/load are
    * directory listings, no operation opens a data file. */
  def qStoreCatalogSql(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    val wh = graft.operators.Artifacts.sharedPath(s, s"catalogsql:$dir") { path =>
      fork.conf.set("spark.sql.catalog.graft_cat.warehouse", path)
      fork.sql("CREATE NAMESPACE graft_cat.lake")
      fork.sql(
        """CREATE TABLE graft_cat.lake.orders (
          |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          |  o_orderdate DATE, o_totalprice DOUBLE, bucket INT
          |) USING graftstore
          |OPTIONS (keyCol 'o_orderkey', bucketCol 'bucket', nBuckets '16')"""
          .stripMargin)
      Tables.parquet(fork, s"$dir/orders.parquet")
        .createOrReplaceTempView("graft_cat_src")
      fork.sql(
        """INSERT INTO graft_cat.lake.orders
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
          |  o_totalprice, CAST(o_orderkey % 16 AS INT)
          |FROM graft_cat_src""".stripMargin)
      fork.sql(
        """INSERT INTO graft_cat.lake.orders
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
          |  o_totalprice * 2, CAST(o_orderkey % 16 AS INT)
          |FROM graft_cat_src WHERE o_orderkey % 64 < 4""".stripMargin)
    }
    fork.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    def one(v: Int) =
      s"""SELECT $v AS version, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
         |    AS sum_price_e4,
         |  CAST(sum(CASE WHEN o_orderkey % 64 < 4 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delta_keys
         |FROM graft_cat.lake.orders VERSION AS OF $v""".stripMargin
    fork.sql(one(1) + "\nUNION ALL\n" + one(2))
  }

  /** The SQL MAINTENANCE surface — [[graft.sources.GraftCatalog]]'s
    * `ProcedureCatalog` half (r15): `CALL <cat>.system.compact / vacuum /
    * write_stats`, the stored-procedure packaging every production table
    * format ships for operations that are COMMITS, not queries (Iceberg's
    * `CALL catalog.system.rewrite_data_files` shape). Staging builds a
    * deliberately FRAGMENTED table (a bootstrap commit, then an
    * every-bucket upsert written from multiple tasks — several parquet
    * files per bucket directory), then pure SQL text runs the whole
    * maintenance cycle: compact (v3: every multi-file bucket → one file),
    * write_stats (zone + row-count sidecars on v3), vacuum (keep 1 —
    * unreferenced data directories deleted, time travel to v1 gone by
    * design). The gate: content is INVARIANT under all three (the
    * compaction-invisibility contract), every live bucket directory holds
    * exactly one file, and the store stands at version 3 — evidence
    * computed by a filesystem walk (metadata), values replayed
    * relationally. At 100 TB: compaction cost is O(fragmented data) —
    * untouched buckets' pointers copy forward; vacuum decisioning is
    * manifest-sized, deletes are its only IO. */
  def qStoreSqlMaintenance(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    val wh = graft.operators.Artifacts.sharedPath(s, s"catalogmaint:$dir") { path =>
      fork.conf.set("spark.sql.catalog.graft_cat.warehouse", path)
      fork.sql("CREATE NAMESPACE graft_cat.lake")
      fork.sql(
        """CREATE TABLE graft_cat.lake.orders_m (
          |  o_orderkey BIGINT, price_e4 BIGINT, bucket INT
          |) USING graftstore
          |OPTIONS (keyCol 'o_orderkey', bucketCol 'bucket', nBuckets '16')"""
          .stripMargin)
      Tables.parquet(fork, s"$dir/orders.parquet")
        .createOrReplaceTempView("graft_maint_src")
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_m
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT),
          |  CAST(o_orderkey % 16 AS INT)
          |FROM graft_maint_src""".stripMargin)
      // v2: EVERY key re-upserted (+7) from several tasks — the
      // fragmenting commit (multiple files per bucket directory)
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_m
          |SELECT /*+ REPARTITION(4) */ o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) + 7,
          |  CAST(o_orderkey % 16 AS INT)
          |FROM graft_maint_src""".stripMargin)
      fork.sql("CALL graft_cat.system.compact('lake.orders_m')").collect()
      fork.sql("CALL graft_cat.system.write_stats('lake.orders_m', 'o_orderkey')")
        .collect()
      fork.sql("CALL graft_cat.system.vacuum('lake.orders_m', 1)").collect()
    }
    fork.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val store = s"$wh/lake/orders_m"
    // evidence by filesystem walk (metadata): the compacted layout holds
    // exactly one parquet file per live bucket directory
    val m = graft.sources.Versioned.readManifest(store,
      graft.sources.Versioned.latestVersion(store))
    val maxFiles = m.filter(_._2 > 0).map { case (b, ver) =>
      new java.io.File(s"$store/data/v$ver/bucket=$b")
        .listFiles().count(_.getName.endsWith(".parquet"))
    }.max
    fork.sql(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_e4) AS BIGINT) AS sum_price_e4
        |FROM graft_cat.lake.orders_m""".stripMargin)
      .withColumn("n_versions",
        lit(graft.sources.Versioned.latestVersion(store)))
      .withColumn("max_files_per_bucket", lit(maxFiles))
  }

  /** A sibling session carrying [[graft.GraftExtensions]] — analyzer
    * injections (GraftMergeAnalysis) are session-BUILD-time only, so a
    * statement that needs them runs in a sibling built over the same
    * SparkContext, active/default session restored afterward
    * (GraftCatalogSpec's pattern, packaged for entries).
    *
    * Restores the PREVIOUS active/default sessions — never the caller's
    * fork: [[graft.operators.Artifacts]] keys its shared layouts on
    * `SparkSession.active`'s UUID, and leaving a per-entry fork behind as
    * the global active session re-keyed the registry on every invocation,
    * so every later entry (and every later bench rep) silently rebuilt
    * every shared disk layout and staged stream input it should have
    * reused — measured at +190 s over the 288-entry bench (r16
    * OPTIMIZATION_r16.md, "store family"). */
  private def withExtensionsSession[A](f: SparkSession => A): A = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
      .withExtensions(new graft.GraftExtensions).getOrCreate())
    finally {
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  /** `ALTER TABLE ADD COLUMN` as a SCHEMA-ONLY COMMIT (r16, the r15
    * verdict's What's-missing #2): the DDL a user actually types lands
    * [[graft.sources.Versioned.commitAddColumns]] — a new schema sidecar
    * plus a manifest copy, ZERO data IO — and the three-version read-back
    * proves the whole contract: v1 (pre-ALTER) never sees the column,
    * v2 (the ALTER) serves it null-filled at unchanged content, v3 (an
    * INSERT) materializes values for the bucket-11 stripe while untouched
    * rows stay null. At 100 TB an ALTER is O(manifest): no bucket is read
    * or written, which GraftCatalogSpec pins by data-directory census. */
  def qStoreAlterAdd(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    val wh = graft.operators.Artifacts.sharedPath(s, s"alteradd:$dir") { path =>
      fork.conf.set("spark.sql.catalog.graft_cat.warehouse", path)
      fork.sql("CREATE NAMESPACE graft_cat.lake")
      fork.sql(
        """CREATE TABLE graft_cat.lake.orders_a (
          |  o_orderkey BIGINT, price_e4 BIGINT, bucket INT
          |) USING graftstore
          |OPTIONS (keyCol 'o_orderkey', bucketCol 'bucket', nBuckets '16')"""
          .stripMargin)
      Tables.parquet(fork, s"$dir/orders.parquet")
        .createOrReplaceTempView("graft_alter_src")
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_a
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT),
          |  CAST(o_orderkey % 16 AS INT)
          |FROM graft_alter_src""".stripMargin)                // v1
      fork.sql("ALTER TABLE graft_cat.lake.orders_a ADD COLUMN rank_e2 BIGINT") // v2
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_a
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) * 2,
          |  CAST(o_orderkey % 16 AS INT),
          |  (CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) * 2) % 100
          |FROM graft_alter_src
          |WHERE o_orderkey % 16 = 11 AND (o_orderkey div 16) % 2 = 0"""
          .stripMargin)                                        // v3
    }
    fork.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    def agg(v: Int) = {
      val t = fork.sql(s"SELECT * FROM graft_cat.lake.orders_a VERSION AS OF $v")
      val hasRank = t.columns.contains("rank_e2")
      t.agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"),
        (if (hasRank) sum(when(col("rank_e2").isNotNull, 1L).otherwise(0L))
         else lit(0L)).as("n_ranked"))
        .select(lit(v).as("version"), lit(t.columns.length).as("n_cols"),
          col("n_rows"), col("sum_price_e4"), col("n_ranked"))
    }
    agg(1).unionByName(agg(2)).unionByName(agg(3))
  }

  /** `MERGE ... WITH SCHEMA EVOLUTION` (r16, the r15 verdict's
    * What's-missing #3): Spark's own ResolveMergeIntoSchemaEvolution sees
    * the table's `AUTOMATIC_SCHEMA_EVOLUTION` capability, routes the
    * source's extra `rank_e2` column through the catalog's ALTER TABLE ADD
    * COLUMN — the same schema-only commit — and re-resolves the merge
    * against the widened target; the merge itself then commits as usual.
    * The staged mutation is [[qStoreAlterAdd]]'s VERBATIM (same stripe,
    * same doubled prices, same rank formula), so the two surfaces — DDL
    * ALTER + INSERT vs one evolving MERGE — share ONE oracle: a user
    * switching spellings must see identical tables. */
  def qStoreMergeEvolve(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    val wh = graft.operators.Artifacts.sharedPath(s, s"mergeevolve:$dir") { path =>
      fork.conf.set("spark.sql.catalog.graft_cat.warehouse", path)
      fork.sql("CREATE NAMESPACE graft_cat.lake")
      fork.sql(
        """CREATE TABLE graft_cat.lake.orders_me (
          |  o_orderkey BIGINT, price_e4 BIGINT, bucket INT
          |) USING graftstore
          |OPTIONS (keyCol 'o_orderkey', bucketCol 'bucket', nBuckets '16')"""
          .stripMargin)
      Tables.parquet(fork, s"$dir/orders.parquet")
        .createOrReplaceTempView("graft_me_base")
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_me
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT),
          |  CAST(o_orderkey % 16 AS INT)
          |FROM graft_me_base""".stripMargin)                  // v1
      withExtensionsSession { s2 =>
        s2.conf.set("spark.sql.catalog.graft_cat",
          classOf[graft.sources.GraftCatalog].getName)
        s2.conf.set("spark.sql.catalog.graft_cat.warehouse", path)
        Tables.parquet(s2, s"$dir/orders.parquet")
          .createOrReplaceTempView("graft_me_src")
        s2.sql(
          """MERGE WITH SCHEMA EVOLUTION INTO graft_cat.lake.orders_me t
            |USING (
            |  SELECT o_orderkey,
            |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) * 2
            |      AS price_e4,
            |    CAST(o_orderkey % 16 AS INT) AS bucket,
            |    (CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) * 2)
            |      % 100 AS rank_e2
            |  FROM graft_me_src
            |  WHERE o_orderkey % 16 = 11 AND (o_orderkey div 16) % 2 = 0
            |) src
            |ON t.o_orderkey = src.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)   // v2 ALTER + v3 merge
      }
    }
    fork.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    def agg(v: Int) = {
      val t = fork.sql(s"SELECT * FROM graft_cat.lake.orders_me VERSION AS OF $v")
      val hasRank = t.columns.contains("rank_e2")
      t.agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"),
        (if (hasRank) sum(when(col("rank_e2").isNotNull, 1L).otherwise(0L))
         else lit(0L)).as("n_ranked"))
        .select(lit(v).as("version"), lit(t.columns.length).as("n_cols"),
          col("n_rows"), col("sum_price_e4"), col("n_ranked"))
    }
    agg(1).unionByName(agg(2)).unionByName(agg(3))
  }

  /** BOUNDED COMMIT-CONFLICT RETRY (r16, the r15 verdict's What's-missing
    * #1 — "the first thing a concurrent ingest job needs"): writer A
    * computes its delta against v1; writer B interleaves and lands v2
    * first; A's [[graft.sources.Versioned.commitUpsertWithRetry]]
    * re-validates key-disjointness against B's commit via the change feed
    * (2×delta IO, never O(table)) and re-commits at v3 — BOTH writers'
    * stripes survive, no lost update and no spurious failure. A third
    * writer whose delta overlaps B's keys then probes the conflict path
    * every call: it must fail loud (`conflict_refused` = 1 is gated), and
    * its refused attempt commits nothing (`n_versions` stays 3). */
  def qStoreCommitRetry(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = graft.operators.Artifacts.sharedPath(s, s"commitretry:$dir") { path =>
      val orders = Tables.parquet(fork, s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      // writer A's delta, computed against v1: the %16=3 stripe doubled
      val deltaA = orders.where(expr("o_orderkey % 16 = 3"))
        .withColumn("price_e4", col("price_e4") * 2)
      // writer B interleaves and commits v2 first: the %16=5 stripe +7
      val deltaB = orders.where(expr("o_orderkey % 16 = 5"))
        .withColumn("price_e4", col("price_e4") + 7)
      graft.sources.Versioned.commitUpsert(fork, deltaB, path, 2,
        "o_orderkey", "bucket")
      // A retries from its v1 basis: disjoint vs B's keys → lands v3
      val landed = graft.sources.Versioned.commitUpsertWithRetry(
        fork, deltaA, path, 1, "o_orderkey", "bucket")
      require(landed == 3, s"retry should land at v3, got v$landed")
    }
    // the CONFLICT probe runs every call (it commits nothing, so it is
    // idempotent): writer C also read v1 but touches B's stripe — a
    // genuine write-write conflict must fail loud, never last-writer-wins
    val ordersNow = Tables.parquet(fork, s"$dir/orders.parquet")
      .select(col("o_orderkey"),
        expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
          .as("price_e4"))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
    val deltaC = ordersNow.where(expr("o_orderkey % 16 = 5"))
      .withColumn("price_e4", lit(0L))
    val refused =
      try {
        graft.sources.Versioned.commitUpsertWithRetry(
          fork, deltaC, layout, 1, "o_orderkey", "bucket")
        0
      } catch {
        case e: Exception
          if Option(e.getMessage).exists(_.contains("write-write conflict")) => 1
      }
    graft.sources.Versioned.readVersion(fork, layout, 3)
      .agg(count(lit(1)).as("n_rows"), sum(col("price_e4")).as("sum_price_e4"))
      .withColumn("n_versions",
        lit(graft.sources.Versioned.latestVersion(layout)))
      .withColumn("conflict_refused", lit(refused))
  }

  /** `CALL system.history` (r16, the r15 verdict's What's-missing #4 —
    * "the first observability question a table user asks"): the commit log
    * as ROWS, derived purely from sidecars every commit already writes —
    * op classification from the manifest DIFF, bucket censuses, row counts
    * where the statistics sidecar covers a version. The staged history
    * exercises every classifiable kind: BASE (bootstrap), DELTA (a
    * single-bucket stripe upsert — touched = 1 is the copy-on-write
    * evidence), ALTER (the schema-only commit — zero buckets moved), and
    * REWRITE (INSERT OVERWRITE). Metadata-scale: one manifest read per
    * retained version, no data file opened. */
  def qStoreSqlHistory(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    fork.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    val wh = graft.operators.Artifacts.sharedPath(s, s"cataloghist:$dir") { path =>
      fork.conf.set("spark.sql.catalog.graft_cat.warehouse", path)
      fork.sql("CREATE NAMESPACE graft_cat.lake")
      fork.sql(
        """CREATE TABLE graft_cat.lake.orders_h (
          |  o_orderkey BIGINT, price_e4 BIGINT, bucket INT
          |) USING graftstore
          |OPTIONS (keyCol 'o_orderkey', bucketCol 'bucket', nBuckets '16')"""
          .stripMargin)
      Tables.parquet(fork, s"$dir/orders.parquet")
        .createOrReplaceTempView("graft_hist_src")
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_h
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT),
          |  CAST(o_orderkey % 16 AS INT)
          |FROM graft_hist_src""".stripMargin)                 // v1 BASE
      fork.sql(
        """INSERT INTO graft_cat.lake.orders_h
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) * 2,
          |  CAST(o_orderkey % 16 AS INT)
          |FROM graft_hist_src WHERE o_orderkey % 16 = 3""".stripMargin) // v2 DELTA, bucket 3
      fork.sql("ALTER TABLE graft_cat.lake.orders_h ADD COLUMN rank_e2 BIGINT") // v3 ALTER
      fork.sql(
        """INSERT OVERWRITE graft_cat.lake.orders_h
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) + 1,
          |  CAST(o_orderkey % 16 AS INT),
          |  CAST(NULL AS BIGINT)
          |FROM graft_hist_src""".stripMargin)                 // v4 REWRITE
      fork.sql("CALL graft_cat.system.write_stats('lake.orders_h', 'o_orderkey')")
        .collect()
    }
    fork.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    fork.sql("CALL graft_cat.system.history('lake.orders_h')")
      .select(col("version"), col("operation"), col("n_buckets_touched"),
        col("n_buckets_live"), col("n_rows"))
  }

  /** Row provenance through the `_commit_version` METADATA column
    * (`SupportsMetadataColumns`, r15 — the store's analogue of Iceberg's
    * `_file` / Delta's `_metadata`): which commit last materialized each
    * row's bucket file, served from the manifest the scan already holds
    * with ZERO extra IO. On the shared two-version layout the answer is
    * fully determined — v2's delta touched exactly buckets 0–3 (keys
    * %64<4 land there), so those buckets' rows report 2 and every other
    * bucket's report 1 — which the oracle replays relationally. The
    * column is HIDDEN (absent from `SELECT *`) and appears only when
    * asked for by name — the metadata-column contract, spec-pinned. At
    * 100 TB: an audit like "how many rows does commit v still serve"
    * is one manifest-stamped scan, no join against the commit log. */
  def qStoreMetaCols(s: SparkSession, dir: String): DataFrame = {
    val layout = timeTravelLayout(s, dir)
    s.read.format("graftstore").option("path", layout).load()
      .select(col("o_orderkey"), col("o_totalprice"), col("_commit_version"))
      .groupBy(col("_commit_version"))
      .agg(count(lit(1)).as("n_rows"),
        expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
          .as("sum_price_e4"))
  }

  /** [[qStoreBloomSkip]] THROUGH the DSv2 connector: the probe batch is a
    * plain `.isin` predicate — Catalyst pushes the `In` filter into the
    * scan, which tests every bucket's bloom filter (metadata work, no IO)
    * and reads only may-contain buckets. `n_buckets_read` carries the same
    * decision function the scan calls
    * ([[graft.sources.GraftStoreSource.bloomKeepBuckets]]); oracle is
    * [[qStoreBloomSkip]]'s VERBATIM. */
  def qDsv2Lookup(s: SparkSession, dir: String): DataFrame = {
    val layout = bloomSkipLayout(s, dir)
    val probes = bloomSkipProbes(s, dir)
    val nRead = graft.sources.GraftStoreSource.bloomKeepBuckets(layout, 1, probes).size
    s.read.format("graftstore").option("path", layout).load()
      .where(col("c_custkey").isin(probes.map(Long.box): _*))
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"))
      .withColumn("n_buckets_read", lit(nRead))
  }

  /** INCREMENTAL index maintenance under copy-on-write
    * ([[graft.sources.Versioned.writeBloomIndexIncremental]]): commit v2
    * upserts UPDATED payloads for keys `c_custkey % 64 = 0` (all in
    * bucket 0 — same key set, payloads changed) plus three BRAND-NEW keys
    * `max+1+32j` (all in one bucket, `(max+1) mod 16`), so the delta
    * touches at most two of 16 buckets; the v2 bloom index rebuilds ONLY
    * those buckets' filters and copies every other entry from v1
    * verbatim — index maintenance costs O(delta), the manifest argument
    * applied to metadata (VersionedSpec asserts byte-identity with a
    * full rebuild). The lookup batch probes an updated key, a new key,
    * and absent keys through the v2 index: new keys MUST be found (the
    * incremental filter includes them), updated rows carry v2 payloads,
    * and `n_buckets_read` — gated — shows the batch touching only the
    * probe buckets. Oracle replays the upserted table AND the whole
    * index decision relationally. */
  def qStoreBloomSkipDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val layout = graft.operators.Artifacts.sharedPath(s, s"bloomskipdelta:$dir") { path =>
      val cust = Tables.parquet(s, s"$dir/customer.parquet")
        .withColumn("bucket", pmod(col("c_custkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(cust, path, "bucket", 16)
      graft.sources.Versioned.writeBloomIndex(s, path, 1, "c_custkey")
      val maxKey = cust.agg(max(col("c_custkey"))).head().getLong(0)
      val upd = cust.where(col("c_custkey") % 64 === 0)
        .withColumn("c_name", concat(lit("UPD:"), col("c_name")))
      val fresh = (0 until 3).map(j =>
          (maxKey + 1 + 32L * j, s"NEW:$j", j, 0.0, "NEW"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .withColumn("bucket", pmod(col("c_custkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitUpsert(s,
        upd.unionByName(fresh), path, 2, "c_custkey", "bucket")
      graft.sources.Versioned.writeBloomIndexIncremental(s, path, 2)
    }
    val maxKey = Tables.parquet(s, s"$dir/customer.parquet")
      .agg(max(col("c_custkey"))).head().getLong(0)
    val probes = Seq(0L, 64L) ++                      // updated keys
      (0 until 3).map(j => maxKey + 1 + 32L * j) ++   // new keys
      (0 until 3).map(j => maxKey + 7 + 32L * j)      // guaranteed absent
    val (rows, read) = graft.sources.Versioned.lookupKeys(
      s, layout, 2, "c_custkey", probes)
    rows.select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"))
      .withColumn("n_buckets_read", lit(read.size))
  }

  /** CHANGE DATA FEED read off the versioned store
    * ([[graft.sources.Versioned.changes]]) — the "what changed between
    * snapshots" question every downstream incremental consumer (index
    * maintainer, replica, audit) asks a table format. The store commits
    * three versions of an exact-integer orders projection, each touching
    * DISJOINT buckets by construction: v2 upserts bucket-3 price updates
    * (every other key ≡3 mod 16, price doubled) plus bucket-5 inserts
    * (bucket preserved by a mod-16-aligned key shift, price offset +7),
    * v3 deletes a third of bucket 9. The feed diffs manifests v1→v3 and
    * reads ONLY the 3 touched buckets' old+new copies — `n_buckets_read`
    * carries that IO bound into the hash gate (13 of 16 buckets never
    * produce IO, the CDF analogue of `q_zonemap_prune`'s skip evidence).
    * Copied-forward rows inside rewritten buckets (unchanged keys sharing
    * a bucket with a changed one) must NOT appear — the null-safe payload
    * diff, not mere bucket membership, decides 'U' rows. The oracle
    * replays all three change formulas relationally and unions the net
    * I/U/D sets; VersionedSpec pins the net-window semantics (insert-
    * then-delete invisible) and the untouched-bucket zero-IO claim. */
  def qStoreChanges(s: SparkSession, dir: String): DataFrame = {
    val layout = storeChangesLayout(s, dir)
    val (cdf, read) = graft.sources.Versioned.changes(s, layout, 1, 3, "o_orderkey")
    cdf.select(col("op"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_e4"))
      .withColumn("n_buckets_read", lit(read.size))
  }

  /** The three-version orders store [[qStoreChanges]] and
    * [[qStoreChangesStream]] both read (one shared layout — a serving
    * store is written once, consumed by many feeds). */
  private def storeChangesLayout(s: SparkSession, dir: String): String =
    graft.operators.Artifacts.sharedPath(s, s"storechanges:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(16)).cast("int"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      val k0 = (orders.agg(max(col("o_orderkey"))).head().getLong(0) / 16 + 1) * 16
      val upd = orders
        .where(expr("o_orderkey % 16 = 3 AND (o_orderkey div 16) % 2 = 0"))
        .withColumn("price_e4", col("price_e4") * 2)
      val ins = orders.where(expr("o_orderkey % 16 = 5"))
        .withColumn("o_orderkey", col("o_orderkey") + k0)
        .withColumn("price_e4", col("price_e4") + 7)
      graft.sources.Versioned.commitUpsert(s, upd.unionByName(ins), path, 2,
        "o_orderkey", "bucket")
      val del = orders
        .where(expr("o_orderkey % 16 = 9 AND (o_orderkey div 16) % 3 = 0"))
        .select(col("o_orderkey"), col("bucket"))
      graft.sources.Versioned.commitDelete(s, del, path, 3, "o_orderkey", "bucket")
    }

  /** The change feed consumed INCREMENTALLY — per-commit granularity as a
    * stream, the shape of a downstream replica / index maintainer tailing
    * the commit log: each micro-batch carries one commit-signal row
    * (version number), `foreachBatch` computes
    * [[graft.sources.Versioned.changes]](v−1, v) — delta-bucket IO only —
    * and lands it under an output directory KEYED BY VERSION with
    * overwrite, so at-least-once batch delivery yields exactly-once feed
    * files (the same deterministic-id discipline as `q_cdc_stream`, with
    * the version as the id). Unlike [[qStoreChanges]]'s NET v1→v3 window,
    * the per-commit feed keeps intra-window history: v2's bucket-3
    * updates and bucket-5 inserts, then v3's bucket-9 deletes, each
    * tagged with its version. VersionedSpec pins the fold invariant that
    * makes such a feed consumable: base ⊕ changes(1,2) ⊕ changes(2,3) =
    * snapshot v3. */
  def qStoreChangesStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = storeChangesLayout(s, dir)
    val vLast = graft.sources.Versioned.latestVersion(layout)
    val root = StreamScratch.fresh("storechg").toString
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"; val outDir = s"$root/out"
    import fork.implicits._
    StreamScratch.stageOrdered(inDir,
      (2 to vLast).map(v => Seq(v).toDF("version")))
    val stream = fork.readStream
      .schema(StructType(Seq(StructField("version", IntegerType))))
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    // the schema the batches wrote, for the read-back: inferring it from
    // the fresh output would run one more job
    val written = new java.util.concurrent.atomic.AtomicReference[StructType]
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(col("version")).distinct().collect().map(_.getInt(0))
          .foreach { v =>
            val (cdf, _) = graft.sources.Versioned.changes(
              b.sparkSession, layout, v - 1, v, "o_orderkey")
            val feed = cdf.withColumn("version", lit(v))
            written.set(feed.schema)
            feed.write.mode("overwrite").parquet(s"$outDir/v$v")
          }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    fork.read.schema(written.get).parquet((2 to vLast).map(v => s"$outDir/v$v"): _*)
      .select(col("version"), col("op"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_e4"))
  }

  /** The change feed consumed through `readStream.format("graftstore")` —
    * the store's commit log AS a first-class streaming source
    * ([[graft.sources.GraftStoreChangeSource]]): offsets are COMMIT
    * VERSIONS, each micro-batch is [[graft.sources.Versioned.changes]]
    * (v−1, v) tagged `_commit_version`, `maxVersionsPerTrigger 1` +
    * `Trigger.AvailableNow` drains the [[storeChangesLayout]] commits one
    * per batch into a parquet sink (whose batch log makes at-least-once
    * delivery exactly-once files). This is how Delta/Iceberg CDF is
    * actually consumed downstream — no bespoke `foreachBatch` harness,
    * the sink just tails the table — and the oracle is
    * [[qStoreChangesStream]]'s VERBATIM: one feed contract, three read
    * surfaces (library call, foreachBatch harness, streaming source).
    * CdfSourceSpec pins the streaming mechanics the hash gate can't see:
    * per-commit batch boundaries, restart-with-checkpoint resuming past
    * consumed versions (no dupes, no losses), kill-mid-drain recovery,
    * and admission-control pinning under AvailableNow. */
  def qStoreCdfStream(s: SparkSession, dir: String): DataFrame = Scoped(s) { fork =>
    val layout = storeChangesLayout(s, dir)
    val root = StreamScratch.fresh("cdfsrc").toString
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    val changes = fork.readStream.format("graftstore")
      .option("path", layout).option("keyCol", "o_orderkey")
      .option("maxVersionsPerTrigger", "1")
      .load()
    val q = changes
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the schema the sink wrote: inferring it from the fresh output would
    // run one more job
    fork.read.schema(changes.schema).parquet(outDir)
      .select(col("_commit_version").as("version"), col("op"), col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("price_e4"))
  }

  /** Small-file COMPACTION on the versioned store — the OPTIMIZE
    * maintenance op ([[graft.sources.Versioned.commitCompact]]): an
    * orders projection lands as THREE ingest stripes (each stripe its own
    * input partition, so every bucket directory collects three parquet
    * files — the fragmentation pattern of accumulated small streaming
    * commits), except bucket 5 which is forced single-stripe as the
    * already-compact control. Compaction commits v2 rewriting ONLY the
    * fragmented buckets into one file each (one distributed pass,
    * hash-repartitioned on the bucket column so each bucket's rows land
    * in a single task); bucket 5's manifest pointer copies forward with
    * its bytes untouched, and v1 still time-travels to the fragmented
    * layout. The gate carries the full post-compaction content (identical
    * to pre-compaction by construction — compaction must be invisible to
    * readers) plus the evidence recomputed FROM DISK (manifest + file
    * walk, not the staging return value): `n_buckets_rewritten` = 15 and
    * `n_files_after` = 16, both replayed by DuckDB from the per-bucket
    * distinct-stripe counts the layout was built from. VersionedSpec pins
    * the mechanics (pointer copy, byte-untouched control, one-file
    * postcondition, no-op recompaction). */
  def qStoreCompact(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"storecompact:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("cast(cast(o_totalprice as decimal(18,4)) * 10000 as bigint)")
            .as("price_e4"))
        .withColumn("bucket", expr("cast(o_orderkey % 16 as int)"))
        .withColumn("stripe", expr(
          "cast(case when o_orderkey % 16 = 5 then 0 " +
            "else (o_orderkey DIV 16) % 3 end as int)"))
      graft.sources.Versioned.commitBase(
        orders.repartitionByRange(3, col("stripe")), path, "bucket", 16)
      graft.sources.Versioned.commitCompact(s, path, 2, "bucket")
    }
    val mf = graft.sources.Versioned.readManifest(layout, 2)
    val nRewritten = mf.count(_._2 == 2)
    val nFiles = mf.toSeq.map { case (b, ver) =>
      graft.sources.Versioned.parquetFileCount(layout, ver, b) }.sum
    graft.sources.Versioned.readVersion(s, layout, 2)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("price_e4"))
      .withColumn("n_buckets_rewritten", lit(nRewritten))
      .withColumn("n_files_after", lit(nFiles))
  }

  /** RE-CLUSTERING maintenance on the versioned store
    * ([[graft.sources.Versioned.commitRewrite]]) — the bucket-grain
    * OPTIMIZE ZORDER: v1 buckets orders by KEY HASH, so every bucket's
    * (min,max) order-day zone map spans the whole calendar and a
    * half-year range read prunes NOTHING (16 of 16 buckets — zone maps
    * are only as good as the clustering beneath them); v2 rewrites the
    * same rows under 160-day DATE stripes and refreshes the stats, after
    * which the same read touches 2 buckets. The gate carries the range
    * read SERVED FROM THE RECLUSTERED LAYOUT plus BOTH bucket counts,
    * all replayed by DuckDB from the two bucketing policies' recomputed
    * zone maps — the before/after pruning delta is the hash-checked
    * value of the rewrite, not a claim. v1 still time-travels to the
    * hash layout (readers pinned mid-rewrite keep serving it); spec pins
    * content equality across the rewrite and the one-file-per-bucket
    * compaction side effect. */
  def qStoreRecluster(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.Artifacts.sharedPath(s, s"recluster:$dir") { path =>
      val orders = Tables.parquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"))
        .withColumn("order_day",
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .drop("o_orderdate")
        .withColumn("bucket", expr("cast(o_orderkey % 16 as int)"))
      graft.sources.Versioned.commitBase(orders, path, "bucket", 16)
      graft.sources.Versioned.writeStats(s, path, 1, "order_day")
      val reclustered = graft.sources.Versioned.readVersion(s, path, 1)
        .withColumn("bucket", expr("cast((order_day div 160) % 16 as int)"))
      graft.sources.Versioned.commitRewrite(reclustered, path, 2, "bucket", 16)
      graft.sources.Versioned.writeStats(s, path, 2, "order_day")
    }
    val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
    val hi = java.time.LocalDate.of(1996, 6, 30).toEpochDay
    val (_, readBefore) = graft.sources.Versioned.readVersionWhere(
      s, layout, 1, "order_day", lo, hi)
    val (df, readAfter) = graft.sources.Versioned.readVersionWhere(
      s, layout, 2, "order_day", lo, hi)
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        expr("cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint)")
          .as("sum_price_e4"))
      .withColumn("n_buckets_before", lit(readBefore.size))
      .withColumn("n_buckets_after", lit(readAfter.size))
  }

  /** `AS OF TIMESTAMP` time travel ([[graft.sources.Versioned.versionAsOf]])
    * — the other half of the travel surface beside `q_time_travel`'s
    * by-version read, and the form humans actually use ("the table as of
    * yesterday 14:30"): each commit of the shared three-version store gets
    * a recorded commit time (logical µs — deterministic staging; a real
    * writer stamps wall clock), and a query AS OF a point BETWEEN v2 and
    * v3 must resolve to v2 — the latest commit ≤ the asked time, never a
    * later state. The gate serves the resolved snapshot (upserts applied,
    * v3's deletes NOT visible) plus the resolved version number; the
    * oracle recomputes the v2 state relationally. Monotone commit times
    * are enforced at write ([[graft.sources.Versioned.writeCommitTime]]);
    * asking before the first commit fails loudly. */
  def qStoreAsofTs(s: SparkSession, dir: String): DataFrame = {
    val layout = storeChangesLayout(s, dir)
    (1 to 3).foreach(v =>
      graft.sources.Versioned.writeCommitTime(layout, v, v * 1000000L))
    val v = graft.sources.Versioned.versionAsOf(layout, 2500000L)
    graft.sources.Versioned.readVersion(s, layout, v)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("price_e4"))
      .withColumn("version_resolved", lit(v))
  }

  /** [[qStoreAsofTs]] THROUGH the DSv2 connector (`timestampAsOf` reader
    * option): the connector resolves the timestamp with the SAME
    * [[graft.sources.Versioned.versionAsOf]] rule the library call uses —
    * one resolution rule, two surfaces — and the oracle is
    * [[qStoreAsofTs]]'s VERBATIM (`version_resolved` pinned to 2). */
  def qDsv2Asof(s: SparkSession, dir: String): DataFrame = {
    val layout = storeChangesLayout(s, dir)
    (1 to 3).foreach(v =>
      graft.sources.Versioned.writeCommitTime(layout, v, v * 1000000L))
    val v = graft.sources.Versioned.versionAsOf(layout, 2500000L)
    s.read.format("graftstore").option("path", layout)
      .option("timestampAsOf", "2500000").load()
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("price_e4"))
      .withColumn("version_resolved", lit(v))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_changes" -> qStoreChanges _,
    "store_recluster" -> qStoreRecluster _,
    "store_asof_ts" -> qStoreAsofTs _,
    "store_dsv2_travel" -> qDsv2Travel _,
    "store_dsv2_asof" -> qDsv2Asof _,
    "store_dsv2_skip" -> qDsv2Skip _,
    "store_dsv2_lookup" -> qDsv2Lookup _,
    "store_dsv2_agg" -> qDsv2Agg _,
    "store_dsv2_sql" -> qDsv2Sql _,
    "store_dsv2_write" -> qDsv2Write _,
    "store_sql_merge" -> qStoreSqlMerge _,
    "store_sql_update" -> qStoreSqlUpdate _,
    "store_sql_delete" -> qStoreSqlDelete _,
    "store_sql_evolve" -> qStoreSqlEvolve _,
    "store_stream_hop" -> qStoreStreamHop _,
    "store_hop_cdc" -> qStoreHopCdc _,
    "store_stats_join" -> qStoreStatsJoin _,
    "store_catalog_sql" -> qStoreCatalogSql _,
    "store_meta_cols" -> qStoreMetaCols _,
    "store_sql_maintenance" -> qStoreSqlMaintenance _,
    "store_alter_add" -> qStoreAlterAdd _,
    "store_merge_evolve" -> qStoreMergeEvolve _,
    "store_commit_retry" -> qStoreCommitRetry _,
    "store_sql_history" -> qStoreSqlHistory _,
    "store_changes_stream" -> qStoreChangesStream _,
    "store_cdf_stream" -> qStoreCdfStream _,
    "store_compact" -> qStoreCompact _,
    "store_bloom_skip" -> qStoreBloomSkip _,
    "store_bloom_skip_delta" -> qStoreBloomSkipDelta _,
    "src_csv_nation" -> srcCsvNation _,
    "src_json_nation" -> srcJsonNation _,
    "src_orc_nation" -> srcOrcNation _,
    "src_csv_corrupt" -> srcCsvCorrupt _,
    "q_zorder_prune" -> qZorderPrune _,
    "q_hilbert_prune" -> qHilbertPrune _,
    "q_gdpr_delete" -> qGdprDelete _,
    "q_time_travel" -> qTimeTravel _,
    "store_schema_evo" -> qStoreSchemaEvo _,
    "store_vacuum" -> qStoreVacuum _,
    "store_clone" -> qStoreClone _,
    "q_cdc_stream" -> qCdcStream _,
    "store_sink_stream" -> qStoreSinkStream _,
    "q_cdc_merge_stream" -> qCdcMergeStream _,
    "q_zonemap_prune" -> qZonemapPrune _,
    "gdpr_delete_stream" -> qGdprStream _,
  )

  // shared by store_alter_add AND store_merge_evolve: the two surfaces
  // stage the identical mutation, so they answer to one oracle
  private val alterAddOracle: String =
    """WITH b0 AS (SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
      |  FROM orders),
      |stripe AS (SELECT k, price_e4 FROM b0 WHERE k % 16 = 11 AND (k // 16) % 2 = 0)
      |SELECT 1 AS version, 3 AS n_cols, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(price_e4) AS BIGINT) AS sum_price_e4, CAST(0 AS BIGINT) AS n_ranked
      |FROM b0
      |UNION ALL
      |SELECT 2, 4, (SELECT CAST(count(*) AS BIGINT) FROM b0),
      |  (SELECT CAST(sum(price_e4) AS BIGINT) FROM b0), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 3, 4, (SELECT CAST(count(*) AS BIGINT) FROM b0),
      |  CAST((SELECT sum(price_e4) FROM b0)
      |    + (SELECT coalesce(sum(price_e4), 0) FROM stripe) AS BIGINT),
      |  (SELECT CAST(count(*) AS BIGINT) FROM stripe)""".stripMargin

  private val baseOracleSql: Map[String, String] = Map(
    // the three commits' change formulas replayed relationally; the net
    // I/U/D union IS the feed, and the touched-bucket count (3: upd
    // bucket 3, ins bucket 5, del bucket 9 — disjoint by construction)
    // pins the IO bound
    "store_changes" ->
      """WITH b0 AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |k0 AS (SELECT ((max(k) // 16) + 1) * 16 AS v FROM b0),
        |ins AS (SELECT k + (SELECT v FROM k0) AS k, o_custkey, o_orderstatus,
        |    price_e4 + 7 AS price_e4 FROM b0 WHERE k % 16 = 5),
        |upd AS (SELECT k, o_custkey, o_orderstatus, price_e4 * 2 AS price_e4
        |  FROM b0 WHERE k % 16 = 3 AND (k // 16) % 2 = 0),
        |del AS (SELECT k, o_custkey, o_orderstatus, price_e4
        |  FROM b0 WHERE k % 16 = 9 AND (k // 16) % 3 = 0)
        |SELECT 'I' AS op, k AS o_orderkey, o_custkey, o_orderstatus, price_e4,
        |  3 AS n_buckets_read FROM ins
        |UNION ALL SELECT 'U', k, o_custkey, o_orderstatus, price_e4, 3 FROM upd
        |UNION ALL SELECT 'D', k, o_custkey, o_orderstatus, price_e4, 3 FROM del""".stripMargin,
    // per-commit granularity: v2 = upserts (I + U), v3 = deletes (D);
    // delete payloads are v2 state = base state (disjoint key stripes)
    "store_changes_stream" ->
      """WITH b0 AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |k0 AS (SELECT ((max(k) // 16) + 1) * 16 AS v FROM b0),
        |ins AS (SELECT k + (SELECT v FROM k0) AS k, o_custkey, o_orderstatus,
        |    price_e4 + 7 AS price_e4 FROM b0 WHERE k % 16 = 5),
        |upd AS (SELECT k, o_custkey, o_orderstatus, price_e4 * 2 AS price_e4
        |  FROM b0 WHERE k % 16 = 3 AND (k // 16) % 2 = 0),
        |del AS (SELECT k, o_custkey, o_orderstatus, price_e4
        |  FROM b0 WHERE k % 16 = 9 AND (k // 16) % 3 = 0)
        |SELECT 2 AS version, 'I' AS op, k AS o_orderkey, o_custkey,
        |  o_orderstatus, price_e4 FROM ins
        |UNION ALL SELECT 2, 'U', k, o_custkey, o_orderstatus, price_e4 FROM upd
        |UNION ALL SELECT 3, 'D', k, o_custkey, o_orderstatus, price_e4 FROM del""".stripMargin,
    // content identical to the pre-compaction projection; the evidence
    // replayed from the per-bucket distinct-stripe counts the fragmented
    // layout was built from (a bucket compacts iff it holds >1 stripe)
    "store_compact" ->
      """WITH b AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4,
        |    o_orderkey % 16 AS bucket,
        |    CASE WHEN o_orderkey % 16 = 5 THEN 0
        |         ELSE (o_orderkey // 16) % 3 END AS stripe
        |  FROM orders),
        |frag AS (SELECT bucket, count(DISTINCT stripe) AS nf FROM b GROUP BY bucket),
        |ev AS (SELECT CAST(count(*) FILTER (WHERE nf > 1) AS INT) AS n_rewritten,
        |              CAST(count(*) AS INT) AS n_files FROM frag)
        |SELECT k AS o_orderkey, o_custkey, o_orderstatus, price_e4,
        |  (SELECT n_rewritten FROM ev) AS n_buckets_rewritten,
        |  (SELECT n_files FROM ev) AS n_files_after
        |FROM b""".stripMargin,
    // the plain filter the pruned read must be indistinguishable from,
    // plus the read-bucket count recomputed from the same min/max maps
    // the upserted table AND the whole index decision replayed: the
    // incremental index must be indistinguishable from a full rebuild
    // over v2 state (untouched buckets' key sets are unchanged, so their
    // copied filters equal rebuilt ones bit for bit)
    "store_bloom_skip_delta" ->
      """WITH mx AS (SELECT max(c_custkey) AS mx FROM customer),
        |cust2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 64 = 0 THEN 'UPD:' || c_name ELSE c_name END AS c_name,
        |    c_nationkey, CAST(c_custkey % 16 AS INT) AS b FROM customer
        |  UNION ALL
        |  SELECT mx.mx + 1 + 32 * j.j, 'NEW:' || CAST(j.j AS VARCHAR),
        |    CAST(j.j AS INT), CAST((mx.mx + 1 + 32 * j.j) % 16 AS INT)
        |  FROM mx CROSS JOIN (SELECT unnest(range(0, 3)) AS j) j),
        |probes AS (
        |  SELECT 0 AS k UNION ALL SELECT 64
        |  UNION ALL SELECT mx.mx + 1 + 32 * j.j
        |    FROM mx CROSS JOIN (SELECT unnest(range(0, 3)) AS j) j
        |  UNION ALL SELECT mx.mx + 7 + 32 * j.j
        |    FROM mx CROSS JOIN (SELECT unnest(range(0, 3)) AS j) j),
        |bk AS (SELECT DISTINCT b, c_custkey AS k FROM cust2),
        |w AS (SELECT b, CAST(POWER(2, LENGTH(BIN(GREATEST(1, count(*) - 1))) + 4)
        |  AS BIGINT) AS m FROM bk GROUP BY b),
        |d AS (SELECT unnest(range(0, 3)) AS r),
        |kb AS (SELECT DISTINCT bk.b, ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' ||
        |    CAST(bk.k AS VARCHAR)), 1, 15))::BIGINT % w.m AS pos
        |  FROM bk JOIN w USING (b) CROSS JOIN d),
        |pp AS (SELECT DISTINCT w.b, probes.k,
        |    ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' ||
        |    CAST(probes.k AS VARCHAR)), 1, 15))::BIGINT % w.m AS pos
        |  FROM probes CROSS JOIN w CROSS JOIN d),
        |need AS (SELECT b, k, count(*) AS npos FROM pp GROUP BY b, k),
        |hitc AS (SELECT pp.b, pp.k, count(*) AS nhit FROM pp
        |  JOIN kb ON pp.b = kb.b AND pp.pos = kb.pos GROUP BY pp.b, pp.k),
        |nb AS (SELECT CAST(count(DISTINCT need.b) AS INT) AS n_buckets_read
        |  FROM need JOIN hitc ON need.b = hitc.b AND need.k = hitc.k
        |  WHERE nhit = npos)
        |SELECT c.c_custkey AS key, c.c_name AS name,
        |  CAST(c.c_nationkey AS BIGINT) AS nat, nb.n_buckets_read
        |FROM cust2 c JOIN probes ON c.c_custkey = probes.k CROSS JOIN nb""".stripMargin,
    // the whole skip decision replayed: per-bucket adaptive widths, d=3
    // position sets, all-positions-present via distinct-position counting
    // (collision-proof on both engines) — rows AND n_buckets_read gated
    "store_bloom_skip" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_nationkey,
        |  CAST(c_custkey % 16 AS INT) AS b FROM customer),
        |pres AS (SELECT c_custkey AS k FROM cust WHERE c_custkey % 97 = 0
        |  ORDER BY c_custkey LIMIT 6),
        |mx AS (SELECT max(c_custkey) AS mx FROM cust),
        |probes AS (SELECT k FROM pres
        |  UNION ALL SELECT k + mx.mx + 1 FROM pres CROSS JOIN mx),
        |bk AS (SELECT DISTINCT b, c_custkey AS k FROM cust),
        |w AS (SELECT b, CAST(POWER(2, LENGTH(BIN(GREATEST(1, count(*) - 1))) + 4)
        |  AS BIGINT) AS m FROM bk GROUP BY b),
        |d AS (SELECT unnest(range(0, 3)) AS r),
        |kb AS (SELECT DISTINCT bk.b, ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' ||
        |    CAST(bk.k AS VARCHAR)), 1, 15))::BIGINT % w.m AS pos
        |  FROM bk JOIN w USING (b) CROSS JOIN d),
        |pp AS (SELECT DISTINCT w.b, probes.k,
        |    ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' ||
        |    CAST(probes.k AS VARCHAR)), 1, 15))::BIGINT % w.m AS pos
        |  FROM probes CROSS JOIN w CROSS JOIN d),
        |need AS (SELECT b, k, count(*) AS npos FROM pp GROUP BY b, k),
        |hitc AS (SELECT pp.b, pp.k, count(*) AS nhit FROM pp
        |  JOIN kb ON pp.b = kb.b AND pp.pos = kb.pos GROUP BY pp.b, pp.k),
        |nb AS (SELECT CAST(count(DISTINCT need.b) AS INT) AS n_buckets_read
        |  FROM need JOIN hitc ON need.b = hitc.b AND need.k = hitc.k
        |  WHERE nhit = npos)
        |SELECT c.c_custkey AS key, c.c_name AS name,
        |  CAST(c.c_nationkey AS BIGINT) AS nat, nb.n_buckets_read
        |FROM cust c JOIN pres ON c.c_custkey = pres.k CROSS JOIN nb""".stripMargin,
    // the v2 snapshot recomputed relationally: upserts applied, v3's
    // deletes invisible, resolved version pinned to 2
    "store_asof_ts" ->
      """WITH b0 AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |k0 AS (SELECT ((max(k) // 16) + 1) * 16 AS v FROM b0),
        |ins AS (SELECT k + (SELECT v FROM k0) AS k, o_custkey, o_orderstatus,
        |    price_e4 + 7 AS price_e4 FROM b0 WHERE k % 16 = 5),
        |upd AS (SELECT k, o_custkey, o_orderstatus, price_e4 * 2 AS price_e4
        |  FROM b0 WHERE k % 16 = 3 AND (k // 16) % 2 = 0)
        |SELECT k AS o_orderkey, o_custkey, o_orderstatus, price_e4,
        |  2 AS version_resolved
        |FROM (SELECT * FROM b0 WHERE k NOT IN (SELECT k FROM upd)
        |      UNION ALL SELECT * FROM upd
        |      UNION ALL SELECT * FROM ins)""".stripMargin,
    // both pruning counts replayed from the two bucketing policies'
    // recomputed zone maps; rows from the plain range filter
    "store_recluster" ->
      """WITH days AS (SELECT o_orderstatus, o_totalprice,
        |  o_orderkey % 16 AS bh,
        |  CAST((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 160) % 16 AS INT) AS bs,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day
        |  FROM orders),
        |bounds AS (SELECT
        |  datediff('day', DATE '1970-01-01', DATE '1996-01-01') AS lo,
        |  datediff('day', DATE '1970-01-01', DATE '1996-06-30') AS hi),
        |zmb AS (SELECT bh, min(order_day) AS mn, max(order_day) AS mx
        |  FROM days GROUP BY 1),
        |nb AS (SELECT count(*) AS n FROM zmb CROSS JOIN bounds
        |  WHERE mx >= lo AND mn <= hi),
        |zma AS (SELECT bs, min(order_day) AS mn, max(order_day) AS mx
        |  FROM days GROUP BY 1),
        |na AS (SELECT count(*) AS n FROM zma CROSS JOIN bounds
        |  WHERE mx >= lo AND mn <= hi)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST((SELECT n FROM nb) AS INT) AS n_buckets_before,
        |  CAST((SELECT n FROM na) AS INT) AS n_buckets_after
        |FROM days CROSS JOIN bounds
        |WHERE order_day BETWEEN lo AND hi
        |GROUP BY 1""".stripMargin,
    "q_zonemap_prune" ->
      """WITH days AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 160) % 16 AS INT) AS bucket,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day
        |  FROM orders),
        |bounds AS (SELECT
        |  datediff('day', DATE '1970-01-01', DATE '1995-01-01') AS lo,
        |  datediff('day', DATE '1970-01-01', DATE '1995-06-30') AS hi),
        |zm AS (SELECT bucket, min(order_day) AS mn, max(order_day) AS mx
        |  FROM days GROUP BY 1),
        |nb AS (SELECT count(*) AS n_buckets_read FROM zm CROSS JOIN bounds
        |  WHERE mx >= lo AND mn <= hi)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST((SELECT n_buckets_read FROM nb) AS INT) AS n_buckets_read
        |FROM days CROSS JOIN bounds
        |WHERE order_day BETWEEN lo AND hi
        |GROUP BY 1""".stripMargin,
    // base + final states computed relationally: the deleted stripe gone,
    // the updated stripe tripled — MERGE semantics pinned end to end;
    // batch boundaries out of contract (disjoint-key merges commute)
    "q_cdc_merge_stream" ->
      """WITH fin AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 3
        |       ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 20 <> 3)
        |SELECT 'base' AS version_tag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN o_orderkey % 20 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_del_stripe,
        |  CAST(sum(CASE WHEN o_orderkey % 20 = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd_stripe
        |FROM orders
        |UNION ALL
        |SELECT 'final' AS version_tag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN o_orderkey % 20 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_del_stripe,
        |  CAST(sum(CASE WHEN o_orderkey % 20 = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd_stripe
        |FROM fin""".stripMargin,
    // base + final states computed relationally; batch boundaries are out
    // of contract (disjoint-key upserts commute), versioning mechanics are
    // CdcStreamSpec's job
    "q_cdc_stream" ->
      """WITH fin AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 3
        |       ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |SELECT 'base' AS version_tag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_keys
        |FROM orders
        |UNION ALL
        |SELECT 'final' AS version_tag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_keys
        |FROM fin""".stripMargin,
    // both versions computed relationally — the manifest/copy-on-write
    // machinery must be result-invisible at every version
    "q_time_travel" ->
      """WITH v2 AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 64 < 4 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN o_orderkey % 64 < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_keys
        |FROM orders
        |UNION ALL
        |SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN o_orderkey % 64 < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_keys
        |FROM v2""".stripMargin,
    // the delete must be indistinguishable from the anti-join it implements
    "q_gdpr_delete" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS tot_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 97 != 0
        |GROUP BY 1""".stripMargin,
    // the streamed, versioned, vacuumed forget must land on the SAME
    // anti-join state — streaming mechanics and version/vacuum machinery
    // are GdprStreamSpec's job
    "gdpr_delete_stream" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS tot_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 97 != 0
        |GROUP BY 1""".stripMargin,
    "q_zorder_prune" ->
      // the layout's losslessness contract: the box read == the plain filter
      """SELECT o_orderkey, o_custkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND o_custkey BETWEEN 50 AND 399""".stripMargin,
    // both kept versions' states recomputed from the stripe formulas
    // (v2: keys%64<4 doubled; v3: additionally keys%64>=60 tripled —
    // disjoint stripes); v1_manifest_gone pins the retention side
    "store_vacuum" ->
      """WITH v2 AS (SELECT CASE WHEN o_orderkey % 64 < 4
        |      THEN o_totalprice * 2 ELSE o_totalprice END AS p FROM orders),
        |v3 AS (SELECT CASE WHEN o_orderkey % 64 < 4 THEN o_totalprice * 2
        |      WHEN o_orderkey % 64 >= 60 THEN o_totalprice * 3
        |      ELSE o_totalprice END AS p FROM orders)
        |SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(p AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_e4,
        |  1 AS v1_manifest_gone
        |FROM v2
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(p AS DECIMAL(18,4))) * 10000 AS BIGINT), 1
        |FROM v3""".stripMargin,
    // the evolved table's final state recomputed relationally: delta keys
    // (key%64<4) carry the new channel + doubled price, everything else is
    // 'legacy' at the base price — every null-fill provenance must agree
    "store_schema_evo" ->
      """SELECT CASE WHEN o_orderkey % 64 < 4
        |    THEN 'ch' || CAST(o_orderkey % 3 AS VARCHAR) ELSE 'legacy' END
        |  AS channel,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 64 < 4 THEN o_totalprice * 2
        |     ELSE o_totalprice END AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |  AS sum_price_e4
        |FROM orders GROUP BY 1""".stripMargin,
    "src_csv_nation" ->
      s"""SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations,
         | min(n.n_name) AS first_nation
         |FROM read_csv('$FixtureDir/nation.csv', header=true,
         |  columns={'n_nationkey':'BIGINT','n_name':'VARCHAR','n_regionkey':'BIGINT'}) n
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY 1""".stripMargin,
    "src_json_nation" ->
      s"""SELECT n_nationkey, n_name, CAST(len(name_words) AS INT) AS n_words
         |FROM read_json('$FixtureDir/nation.jsonl', format='newline_delimited',
         |  columns={'n_nationkey':'BIGINT','n_name':'VARCHAR','n_regionkey':'BIGINT',
         |           'name_words':'VARCHAR[]'})
         |WHERE n_regionkey < 3""".stripMargin,
    // good rows via ignore_errors; the bad count from raw-line arithmetic
    // (lines minus header minus good) — delim \x07 never occurs, so every
    // physical line is one raw row
    "src_csv_corrupt" ->
      s"""WITH good AS (
         |  SELECT * FROM read_csv('$FixtureDir/nation_dirty.csv', header=true,
         |    columns={'n_nationkey':'BIGINT','n_name':'VARCHAR','n_regionkey':'BIGINT'},
         |    ignore_errors=true)),
         |raw AS (SELECT count(*) AS n_lines FROM read_csv(
         |  '$FixtureDir/nation_dirty.csv', header=false, quote='',
         |  columns={'raw':'VARCHAR'}, delim='')),
         |-- count a REAL column: under ignore_errors, count(*) skips the
         |-- casts and admits the type-corrupt line (projection-dependent!)
         |bad AS (SELECT CAST(n_lines - 1 - (SELECT count(n_nationkey) FROM good) AS BIGINT) AS n_bad
         |  FROM raw)
         |SELECT g.n_nationkey, g.n_name, g.n_regionkey, b.n_bad
         |FROM good g CROSS JOIN bad b""".stripMargin,
    // DuckDB has no ORC reader — the oracle asserts round-trip losslessness
    // against the same rows from the parquet nation table
    "src_orc_nation" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_regionkey < 3""".stripMargin,
  )

  /** The DSv2 connector entries share their library-API twins' oracles
    * VERBATIM — the seam (reader syntax, pushdown, sidecar-driven
    * skipping) must be result-invisible, including the gated
    * `n_buckets_read` skip evidence. */
  val oracleSql: Map[String, String] = baseOracleSql ++ Map(
    // both 2-D layouts' whole contract is the PLAIN filter's exact rows —
    // one oracle, two clusterings (Morton isin vs Hilbert run ranges)
    "q_hilbert_prune" -> baseOracleSql("q_zorder_prune"),
    "store_dsv2_travel" -> baseOracleSql("q_time_travel"),
    // the auto-broadcast join's values: plan shape is GraftStatsSpec's
    "store_stats_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_bal_e4
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "store_dsv2_sql" -> baseOracleSql("q_time_travel"),
    "store_dsv2_write" -> baseOracleSql("q_time_travel"),
    // the catalog's SQL lifecycle stages the same two-version content, so
    // the time-travel read-back re-serves q_time_travel's oracle VERBATIM
    "store_catalog_sql" -> baseOracleSql("q_time_travel"),
    // provenance is fully determined on the shared layout: v2 touched
    // exactly buckets 0-3 (delta keys %64<4 land there), so bucket rows
    // report commit 2 there and commit 1 everywhere else
    // content invariance under compact+stats+vacuum: every key upserted
    // once with +7, so the final table is the base with +7 everywhere;
    // the layout evidence (one file per bucket, version 3) is constant
    "store_sql_maintenance" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |    + 7) AS BIGINT) AS sum_price_e4,
        |  3 AS n_versions, 1 AS max_files_per_bucket
        |FROM orders""".stripMargin,
    "store_meta_cols" ->
      """WITH rows_v AS (SELECT
        |    CASE WHEN o_orderkey % 64 < 4 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 16 < 4 THEN 2 ELSE 1 END AS _commit_version
        |  FROM orders)
        |SELECT _commit_version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS sum_price_e4
        |FROM rows_v GROUP BY 1""".stripMargin,
    "store_dsv2_asof" -> baseOracleSql("store_asof_ts"),
    "store_dsv2_skip" -> baseOracleSql("q_zonemap_prune"),
    "store_dsv2_lookup" -> baseOracleSql("store_bloom_skip"),
    "store_cdf_stream" -> baseOracleSql("store_changes_stream"),
    "store_sink_stream" -> baseOracleSql("q_cdc_stream"),
    // ONE SQL MERGE = the same net mutation the two-commit library layout
    // applies — the CDF read-back re-serves store_changes' oracle VERBATIM
    "store_sql_merge" -> baseOracleSql("store_changes"),
    // single-bucket stripe UPDATE: net 'U' rows + the 1-bucket IO evidence
    "store_sql_update" ->
      """WITH b0 AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders)
        |SELECT 'U' AS op, k AS o_orderkey, o_custkey, o_orderstatus,
        |  price_e4 + 5 AS price_e4, 1 AS n_buckets_read
        |FROM b0 WHERE o_orderstatus = 'F' AND k % 32 = 7""".stripMargin,
    // v1 serves the doomed keys (snapshot isolation), v2 is lighter by
    // exactly the 8 smallest %64=1-stripe keys the DELETE named
    "store_sql_delete" ->
      """WITH b0 AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |doomed AS (SELECT k, price_e4 FROM b0 WHERE k % 64 = 1 ORDER BY k LIMIT 8)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_e4) AS BIGINT) AS sum_price_e4,
        |  CAST(sum(CASE WHEN k % 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_stripe_keys
        |FROM b0
        |UNION ALL
        |SELECT 2,
        |  CAST((SELECT count(*) FROM b0) - (SELECT count(*) FROM doomed) AS BIGINT),
        |  CAST((SELECT sum(price_e4) FROM b0) - (SELECT sum(price_e4) FROM doomed) AS BIGINT),
        |  CAST((SELECT sum(CASE WHEN k % 64 = 1 THEN 1 ELSE 0 END) FROM b0)
        |    - (SELECT count(*) FROM doomed) AS BIGINT)""".stripMargin,
    // additive evolution through SQL: same row count (upsert on existing
    // keys), stripe prices doubled, the new column visible only at v2 and
    // only on stripe provenance
    "store_sql_evolve" ->
      """WITH b0 AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |stripe AS (SELECT k, price_e4 FROM b0 WHERE k % 16 = 11 AND (k // 16) % 2 = 0)
        |SELECT 1 AS version, 4 AS n_cols, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_e4) AS BIGINT) AS sum_price_e4, CAST(0 AS BIGINT) AS n_ranked
        |FROM b0
        |UNION ALL
        |SELECT 2, 5, (SELECT CAST(count(*) AS BIGINT) FROM b0),
        |  CAST((SELECT sum(price_e4) FROM b0)
        |    + (SELECT coalesce(sum(price_e4), 0) FROM stripe) AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM stripe)""".stripMargin,
    // the CDC hop replicates the WHOLE mutation history (upserts AND the
    // delete stripe): both stores land on the identical post-all-changes
    // state, the deleted stripe absent on both sides
    "store_hop_cdc" ->
      """WITH b0 AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |k0 AS (SELECT ((max(k) // 16) + 1) * 16 AS v FROM b0),
        |state AS (
        |  SELECT k, CASE WHEN k % 16 = 3 AND (k // 16) % 2 = 0
        |    THEN price_e4 * 2 ELSE price_e4 END AS price_e4
        |  FROM b0 WHERE NOT (k % 16 = 9 AND (k // 16) % 3 = 0)
        |  UNION ALL
        |  SELECT k + (SELECT v FROM k0), price_e4 + 7 FROM b0 WHERE k % 16 = 5)
        |SELECT 'A' AS store, 3 AS n_versions, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_e4) AS BIGINT) AS sum_price_e4,
        |  CAST(0 AS BIGINT) AS n_del_present FROM state
        |UNION ALL
        |SELECT 'B', 3, CAST(count(*) AS BIGINT), CAST(sum(price_e4) AS BIGINT),
        |  CAST(0 AS BIGINT) FROM state""".stripMargin,
    // the hop is content-invisible: A (library commits) and B (streamed
    // replica) aggregate identically — one derivation, two labeled rows
    "store_stream_hop" ->
      """WITH b0 AS (SELECT o_orderkey AS k, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders),
        |k0 AS (SELECT ((max(k) // 16) + 1) * 16 AS v FROM b0),
        |state AS (
        |  SELECT k, CASE WHEN k % 16 = 3 THEN price_e4 * 2 ELSE price_e4 END AS price_e4
        |  FROM b0
        |  UNION ALL
        |  SELECT k + (SELECT v FROM k0), price_e4 + 7 FROM b0 WHERE k % 16 = 5)
        |SELECT 'A' AS store, 3 AS n_versions, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_e4) AS BIGINT) AS sum_price_e4 FROM state
        |UNION ALL
        |SELECT 'B', 3, CAST(count(*) AS BIGINT), CAST(sum(price_e4) AS BIGINT)
        |FROM state""".stripMargin,
    // the two stripe formulas replayed relationally: clone v1 == source v2,
    // divergence == doubling then tripling, the diverged-bucket count from
    // the tripled stripe's bucket spread
    "store_clone" ->
      """WITH base AS (SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS p
        |  FROM orders),
        |v2src AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 64 < 4 THEN p * 2 ELSE p END AS p FROM base),
        |v2dst AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 64 >= 60 THEN p * 3 ELSE p END AS p FROM v2src),
        |nd AS (SELECT CAST(count(DISTINCT o_orderkey % 16) AS INT) AS n
        |  FROM orders WHERE o_orderkey % 64 >= 60)
        |SELECT 'clone_v1' AS snapshot, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(p) AS BIGINT) AS sum_price_e4, 0 AS n_diverged_buckets
        |FROM v2src
        |UNION ALL
        |SELECT 'clone_v2', CAST(count(*) AS BIGINT), CAST(sum(p) AS BIGINT), nd.n
        |FROM v2dst CROSS JOIN nd GROUP BY nd.n
        |UNION ALL
        |SELECT 'src_v2', CAST(count(*) AS BIGINT), CAST(sum(p) AS BIGINT), 0
        |FROM v2src""".stripMargin,
    // the ALTER contract relationally: v1 pre-ALTER (3 cols, base prices),
    // v2 the schema-only commit (4 cols, content INVARIANT, zero ranked),
    // v3 the materializing insert (stripe doubled, stripe-count ranked)
    "store_alter_add" -> alterAddOracle,
    // ONE evolving MERGE = the ALTER + INSERT staging VERBATIM (same
    // stripe, same formulas): two surfaces, one oracle — a user switching
    // spellings must see identical tables
    "store_merge_evolve" -> alterAddOracle,
    // both interleaved writers' stripes survive (3 commits), the
    // overlapping third writer is refused and commits nothing
    "store_commit_retry" ->
      """WITH b0 AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_e4
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN k % 16 = 3 THEN price_e4 * 2
        |                WHEN k % 16 = 5 THEN price_e4 + 7
        |                ELSE price_e4 END) AS BIGINT) AS sum_price_e4,
        |  3 AS n_versions, 1 AS conflict_refused
        |FROM b0""".stripMargin,
    // the commit log replayed relationally: op kinds and bucket censuses
    // are fully determined by the staged commits (the %16=3 stripe lands
    // entirely in bucket 3 → DELTA touched exactly 1); row counts cover
    // only the version the statistics sidecar was written for
    "store_sql_history" ->
      """SELECT 1 AS version, 'BASE' AS operation, 16 AS n_buckets_touched,
        |  16 AS n_buckets_live, CAST(NULL AS BIGINT) AS n_rows
        |UNION ALL SELECT 2, 'DELTA', 1, 16, CAST(NULL AS BIGINT)
        |UNION ALL SELECT 3, 'ALTER', 0, 16, CAST(NULL AS BIGINT)
        |UNION ALL SELECT 4, 'REWRITE', 16, 16,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders)""".stripMargin,
    // the sidecar-served statistics must equal the raw-table aggregate —
    // the metadata path is result-invisible (mechanics in GraftStoreSpec)
    "store_dsv2_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS min_day,
        |  CAST(max(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS max_day
        |FROM orders""".stripMargin,
  )
}
