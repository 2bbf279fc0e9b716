package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink layer (a category the reference lacks entirely — its input is
  * a caller-provided Dataset, and it has no write path, SURVEY.md §2.3).
  *
  * Scale conventions baked in:
  *  - always pass an explicit schema to semi-structured readers (schema
  *    inference is a full extra pass over the data);
  *  - parquet sinks partition by a low-cardinality column so downstream
  *    filters prune whole directories, and cap records per file to bound
  *    task memory on the 1000-executor read side;
  *  - the embeddings sink writes the IVF cell id as a partition column —
  *    an ANN probe then reads only `cell=X/` paths (partition pruning is the
  *    disk-level form of the nprobe search).
  */
object Sources {

  /** CSV with explicit schema — no inference pass, malformed rows quarantined
    * rather than failing the job. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON-lines with explicit schema. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC read (columnar alternative to parquet — same pushdown/pruning
    * machinery via the native vectorized reader). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Partitioned parquet sink: directory-prunable layout + bounded files. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Surgical key deletion from a partitioned layout — the
    * right-to-be-forgotten pass: only partitions that actually CONTAIN a
    * doomed key are rewritten; every other partition's files stay
    * byte-identical on disk (SourcesSpec asserts this). Mechanics: one
    * pruned scan finds the affected partition values (bounded by the
    * partition count — metadata-scale collect), a partition-filtered
    * read anti-joins the broadcast deletion set, and the rewrite goes
    * through Spark's DYNAMIC partition-overwrite so exactly the written
    * partitions are replaced. At 100 TB the deletion set is a broadcast
    * (deletion requests are human-scale), the scan prunes to affected
    * directories, and the rewrite cost is proportional to the data that
    * actually holds doomed keys — never a full-corpus rewrite. */
  def deletePartitioned(spark: SparkSession, path: String,
                        partitionCol: String, keyCol: String,
                        ids: DataFrame): Unit = {
    val layout = Tables.parquet(spark, path)
    val doomed = broadcast(ids.select(col(keyCol)))
    val affected = layout.join(doomed, keyCol)
      .select(col(partitionCol)).distinct().collect().map(_.get(0))
    if (affected.nonEmpty) {
      val survivors = layout
        .where(col(partitionCol).isin(affected.toIndexedSeq: _*))
        .join(doomed, Seq(keyCol), "left_anti")
        .localCheckpoint(eager = true) // survivor set must be fixed BEFORE
                                       // any directory below is touched
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        survivors.write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCol).parquet(path)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      // dynamic overwrite only replaces partitions PRESENT in the written
      // data — an affected partition whose rows were ALL doomed contributes
      // no survivor rows, so its old files would silently survive (a
      // right-to-be-forgotten delete that doesn't forget). Remove those
      // directories explicitly.
      val kept = survivors.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSet
      for (v <- affected if !kept(v)) {
        val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(String.valueOf(v))
        val dir = new java.io.File(s"$path/$partitionCol=$escaped")
        if (dir.isDirectory) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          rm(dir)
        }
      }
    }
  }

  /** Embeddings laid out for ANN: partitioned by IVF cell so a probe's
    * nprobe cells map to directory reads. */
  def writeIvfLayout(assigned: DataFrame, path: String): Unit =
    writePartitioned(assigned.select(col("vec_id"), col("v"), col("cell")), path, "cell")

  /** Append a delta to an existing IVF layout: the delta rows land as NEW
    * files inside their cells' directories (dynamic-partition append) —
    * yesterday's files are never rewritten or rebalanced. This is the
    * layout-maintenance half of incremental ANN serving: the coarse
    * quantizer is frozen (re-clustering is a REBUILD, not a delta), so an
    * appended vector is served exactly as a rebuilt layout would serve it.
    * Daily cost is sized by the increment; the partition-pruned query path
    * is unchanged. */
  def appendIvfLayout(assignedDelta: DataFrame, path: String): Unit =
    assignedDelta.select(col("vec_id"), col("v"), col("cell"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(path)

  /** The codes twin of [[appendIvfLayout]] for the COMPRESSED (IVF-PQ)
    * index: the delta's 8 B/vec codes land as new files inside their
    * cells' directories; base files are never rewritten. Valid only under
    * frozen coarse centroids AND a frozen codebook — retraining either is
    * a rebuild, not a delta. */
  def appendIvfPqLayout(codedDelta: DataFrame, path: String): Unit =
    codedDelta.select(col("vec_id"), col("codes"), col("cell"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(path)

  /** Z-ORDER (Morton) layout: a single partition column that clusters TWO
    * integer dimensions at once, so a 2-D box predicate prunes to the few
    * grid cells the box overlaps — the OPTIMIZE ZORDER data-skipping shape.
    * Each dim is scaled to `2^bitsPerDim` cells against its min/max (one
    * stats pass at write time, persisted as a 1-row `meta` parquet beside
    * `data/`); the bucket is the bit-interleave of the two cell ids. At
    * 100 TB the layout write is one shuffle (the partitioned sink) and the
    * stats pass rides the same scan; queries never pay it — [[zorderRead]]
    * reads 4 longs of meta, enumerates the ≤ 4^bitsPerDim overlapping
    * buckets DRIVER-side, and hands Spark an `isin` partition filter. */
  def writeZorderLayout(df: DataFrame, dimA: String, dimB: String,
                        path: String, bitsPerDim: Int = 3): Unit = {
    val stats = df.agg(
      min(col(dimA)).cast("long"), max(col(dimA)).cast("long"),
      min(col(dimB)).cast("long"), max(col(dimB)).cast("long")).head()
    val (amn, amx, bmn, bmx) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    val spark = df.sparkSession
    import spark.implicits._
    Seq((amn, amx, bmn, bmx, bitsPerDim)).toDF("amn", "amx", "bmn", "bmx", "bits")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    val cells = 1 << bitsPerDim
    // integer `div`, matching the read-side long arithmetic exactly: the
    // Column `/` is DOUBLE division, and past 2^53 the rounded quotient
    // could disagree with the reader's cell decomposition (silent prune)
    def cellOf(c: String, mn: Long, mx: Long) =
      expr(s"cast(((cast(`$c` as bigint) - ${mn}L) * $cells) div ${mx - mn + 1}L as int)")
    val (ca, cb) = (cellOf(dimA, amn, amx), cellOf(dimB, bmn, bmx))
    val z = (0 until bitsPerDim).foldLeft(lit(0)) { (acc, i) =>
      acc + shiftright(ca, i) % 2 * lit(1 << (2 * i + 1)) +
        shiftright(cb, i) % 2 * lit(1 << (2 * i))
    }
    writePartitioned(df.withColumn("zbucket", z), s"$path/data", "zbucket")
  }

  /** Morton interleave of two cell ids — driver-side twin of the writer's
    * column expression. */
  def mortonBucket(ca: Int, cb: Int, bitsPerDim: Int): Int =
    (0 until bitsPerDim).map(i =>
      (((ca >> i) & 1) << (2 * i + 1)) | (((cb >> i) & 1) << (2 * i))).sum

  /** Box query over a z-order layout: prunes to the buckets whose grid cell
    * intersects [loA,hiA]×[loB,hiB], then the caller applies the EXACT
    * predicate (cells are coarse). The bucket set is computed from the tiny
    * meta file — never from data. */
  def zorderRead(spark: SparkSession, path: String,
                 loA: Long, hiA: Long, loB: Long, hiB: Long): DataFrame = {
    val m = Tables.parquet(spark, s"$path/meta").head()
    val (amn, amx, bmn, bmx, bits) =
      (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3), m.getInt(4))
    val cells = 1 << bits
    def cellOf(x: Long, mn: Long, mx: Long): Int =
      (((x.max(mn).min(mx) - mn) * cells) / (mx - mn + 1)).toInt
    val buckets = for {
      ca <- cellOf(loA, amn, amx) to cellOf(hiA, amn, amx)
      cb <- cellOf(loB, bmn, bmx) to cellOf(hiB, bmn, bmx)
    } yield mortonBucket(ca, cb, bits)
    Tables.parquet(spark, s"$path/data")
      .where(col("zbucket").isin(buckets: _*))
  }

  /** HILBERT-curve layout — [[writeZorderLayout]]'s successor: same one-pass
    * stats + single partition column, but the bucket is the cell's Hilbert
    * position ([[graft.functions.Hilbert]], codegen'd — no UDF barrier in
    * the layout write). The payoff over Morton: consecutive Hilbert ids are
    * always spatially ADJACENT, so a 2-D box decomposes into fewer
    * contiguous id runs — when skipping rides sorted-key min/max (zone
    * maps, clustered file ranges) instead of partition `isin`, fewer runs
    * = fewer false-positive files. Identical write cost (one shuffle, the
    * partitioned sink). */
  def writeHilbertLayout(df: DataFrame, dimA: String, dimB: String,
                         path: String, bitsPerDim: Int = 3): Unit = {
    val stats = df.agg(
      min(col(dimA)).cast("long"), max(col(dimA)).cast("long"),
      min(col(dimB)).cast("long"), max(col(dimB)).cast("long")).head()
    val (amn, amx, bmn, bmx) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    val spark = df.sparkSession
    import spark.implicits._
    Seq((amn, amx, bmn, bmx, bitsPerDim)).toDF("amn", "amx", "bmn", "bmx", "bits")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    val cells = 1 << bitsPerDim
    // integer `div` matching hilbertRead's long arithmetic (see the
    // z-order writer's note — double division diverges past 2^53)
    def cellOf(c: String, mn: Long, mx: Long) =
      expr(s"cast(((cast(`$c` as bigint) - ${mn}L) * $cells) div ${mx - mn + 1}L as int)")
    val h = graft.functions.Hilbert.index(
      cellOf(dimA, amn, amx), cellOf(dimB, bmn, bmx), bitsPerDim)
    writePartitioned(df.withColumn("hbucket", h), s"$path/data", "hbucket")
  }

  /** Box query over a Hilbert layout: the box's overlapping cells become
    * contiguous curve-index RUNS ([[graft.functions.Hilbert.boxRuns]],
    * driver-side from the tiny meta file), pruned as range predicates on
    * the partition column — the sorted-key-skipping shape, demonstrably
    * fewer ranges than Morton's scattered ids. Caller applies the exact
    * predicate (cells are coarse). */
  def hilbertRead(spark: SparkSession, path: String,
                  loA: Long, hiA: Long, loB: Long, hiB: Long): DataFrame = {
    val m = Tables.parquet(spark, s"$path/meta").head()
    val (amn, amx, bmn, bmx, bits) =
      (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3), m.getInt(4))
    val cells = 1 << bits
    def cellOf(x: Long, mn: Long, mx: Long): Int =
      (((x.max(mn).min(mx) - mn) * cells) / (mx - mn + 1)).toInt
    val runs = graft.functions.Hilbert.boxRuns(bits,
      cellOf(loA, amn, amx), cellOf(hiA, amn, amx),
      cellOf(loB, bmn, bmx), cellOf(hiB, bmn, bmx))
    val pred = runs.map { case (lo, hi) => col("hbucket").between(lo, hi) }
      .reduce(_ || _)
    Tables.parquet(spark, s"$path/data").where(pred)
  }

  /** SMALL-FILES COMPACTION — the table-maintenance pass every streaming or
    * incremental sink eventually needs: a parquet directory fragmented by
    * many tiny appends is rewritten into ≈`targetBytes` files (count from
    * the CURRENT on-disk size, so the op is idempotent), then swapped in
    * (write `_compact_tmp`, move original aside, rename, delete). The swap
    * is two renames, NOT one atomic operation: a crash between them leaves
    * the table at `_compact_old` — which is why entry first runs crash
    * RECOVERY (a leftover `_compact_old` with no live table is moved back;
    * a stale `_compact_tmp` is deleted), so a re-run always heals a torn
    * prior attempt. Readers pay per-file open + footer + scheduling costs:
    * at 100 TB, a million 1 MB files is a planner DoS; compaction restores
    * scan-sized splits. Returns the new file count. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val dir = Paths.get(path)
    val tmp = Paths.get(path + "_compact_tmp")
    val old = Paths.get(path + "_compact_old")
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Using.resource(Files.list(p))(_.iterator().asScala.toSeq).foreach(rm)
      Files.delete(p)
    }
    // crash recovery from a torn prior swap (see scaladoc)
    if (Files.exists(old) && !Files.exists(dir)) Files.move(old, dir)
    if (Files.exists(old)) rm(old)
    if (Files.exists(tmp)) rm(tmp)
    val bytes = Using.resource(Files.walk(dir)) { walk =>
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
    }
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Tables.parquet(spark, path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    Files.move(dir, old)
    Files.move(tmp, dir)
    rm(old)
    nFiles
  }
}
