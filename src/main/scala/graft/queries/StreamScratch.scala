package graft.queries

import java.nio.file.{Files, Path, Paths}

/** Scratch roots for the streaming catalog entries: pid-scoped (parallel
  * JVMs never collide) and cleared WHOLE on every call — the up-front-clean
  * convention every stream entry must follow (a stale checkpoint from a
  * previous run would mark input files already-processed and silently
  * serve old rows; a stale input dir fails the stage write). Factored
  * here because the inlined copies let one entry ship clearing only a
  * subtree (caught by round-11 self-review). */
private[graft] object StreamScratch {

  /** The fixed per-entry root path (no side effects — specs derive it to
    * inspect checkpoints/segments after a run). */
  def path(name: String): Path =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_stream_${name}_${ProcessHandle.current().pid()}")

  /** Stage `slices` into `inDir` as single parquet files whose NAMES and
    * MTIMES both encode arrival order. The file source orders pending
    * files by (modification time, path); a plain sequence of writes can
    * tie on coarse filesystem timestamps and then fall back to RANDOM
    * part-file names — so an entry that needs slices consumed in a given
    * order (e.g. event-time-ordered staging, so the watermark advances
    * monotonically and eviction fires mid-stream without any row being
    * genuinely late) must pin both. Each slice lands as `slice-K.parquet`
    * with a fixed, strictly increasing mtime. */
  def stageOrdered(inDir: String, slices: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    Files.createDirectories(Paths.get(inDir))
    slices.zipWithIndex.foreach { case (df, k) =>
      val tmp = s"$inDir/_stage$k"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dst = Paths.get(inDir, f"slice-$k%05d.parquet")
      Files.move(part.toPath, dst)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      Files.delete(Paths.get(tmp))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 60000L))
    }
  }

  /** [[stageOrdered]] through the [[graft.operators.Artifacts.sharedPath]]
    * layout cache: a staged input is a DETERMINISTIC, IMMUTABLE function of
    * (entry, table, sf dir, slice width) — the same artifact class as the
    * IVF/z-order serving layouts — so one session stages it once and every
    * later invocation (bench reps, repeated gates) reads the SAME files
    * instead of re-paying the coalesce(1)-per-slice writes. ONLY the input
    * layout is shared; checkpoints and sinks stay per-run fresh, so a fresh
    * stream still consumes every staged file and exactly-once / restart
    * claims are untouched. `build` (including any slice-bound collects it
    * performs) runs only on the FIRST call per (`s`, key), `s` being the
    * caller's session (not a Scoped fork, which is new per call). Returns the
    * cached input dir to `readStream` from. */
  def stageOrderedShared(s: org.apache.spark.sql.SparkSession, key: String)(
      build: => Seq[org.apache.spark.sql.DataFrame]): String =
    graft.operators.Artifacts.sharedPath(s, s"stage:$key") { path =>
      stageOrdered(path, build)
    }

  /** Two-sided variant of [[stageOrderedShared]] for entries staging
    * multiple coordinated inputs from ONE scan-and-slice pass (e.g. the
    * stream-stream join's view and click sides): each named side lands
    * under `<layout>/<name>`, and the returned dirs are stable across
    * invocations. */
  def stageOrderedSharedMulti(s: org.apache.spark.sql.SparkSession, key: String)(
      build: => Seq[(String, Seq[org.apache.spark.sql.DataFrame])]): String =
    graft.operators.Artifacts.sharedPath(s, s"stage:$key") { path =>
      build.foreach { case (name, slices) => stageOrdered(s"$path/$name", slices) }
    }

  /** SCALE-ADAPTIVE state-store sizing (r16 optimization round, guide §2
    * "make partitioning scale-adaptive rather than a constant"): one state
    * store per `spark.graft.stream.bytesPerStatePartition` (default 16 MB)
    * of the LARGEST staged input slice — a micro-batch's volume upper
    * bound — clamped to [1, defaultParallelism]. Every HDFS-backed state
    * store instance pays a fixed create+write+fsync+rename per trigger
    * (measured ~40 ms each on this box; a stream-stream join holds 4
    * stores per partition PER SIDE), so at bench scale (KB-sized slices)
    * the right store count is 1 — the r16 A/B measured the stream-stream
    * join at 11.7 s with 4 partitions vs 9.3 s with 1, state commit time
    * 12.3 s → 1.65 s summed — while at production per-batch volume the
    * same rule scales the count back up linearly with the data. Outputs
    * are partitioning-invariant (FloatDeterminismSpec's house guarantee;
    * the oracle gate re-proves it per entry). Call AFTER staging (it
    * inspects the staged files) and BEFORE `readStream`. */
  def sizeStateStoresAdaptive(fork: org.apache.spark.sql.SparkSession,
                              inDirs: String*): Int =
    sizeFromBytes(fork, perBatchBytes(fork, inDirs, sum = false))

  /** [[sizeStateStoresAdaptive]] for SINGLE-BATCH sources (no
    * `maxFilesPerTrigger`): one micro-batch reads ALL staged files, so the
    * per-batch volume bound is the SUM of file sizes, not the largest slice
    * (r16 ADVICE — the max-based rule undersized the load-everything
    * entries). Same conf, same clamp. */
  def sizeStateStoresAdaptiveTotal(fork: org.apache.spark.sql.SparkSession,
                                   inDirs: String*): Int =
    sizeFromBytes(fork, perBatchBytes(fork, inDirs, sum = true))

  private def perBatchBytes(fork: org.apache.spark.sql.SparkSession,
                            inDirs: Seq[String], sum: Boolean): Long = {
    def sliceBytes(d: java.io.File): Seq[Long] = {
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
      fs.filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).toSeq ++
        fs.filter(_.isDirectory).flatMap(sliceBytes) // multi-sided stages nest
    }
    val sizes = inDirs.flatMap(d => sliceBytes(new java.io.File(d)))
    // empty/missing dirs are a STAGING bug, not a sizing decision — surface
    // it instead of silently falling back to 1 partition (r16 ADVICE)
    if (sizes.isEmpty)
      System.err.println(s"WARN sizeStateStores: no staged parquet under " +
        s"${inDirs.mkString(",")} — sizing state stores as if empty")
    if (sum) sizes.sum else sizes.maxOption.getOrElse(0L)
  }

  private def sizeFromBytes(fork: org.apache.spark.sql.SparkSession,
                            batchBytes: Long): Int = {
    val key = "spark.graft.stream.bytesPerStatePartition"
    val bytesPer = fork.conf.getOption(key).map { v =>
      try v.toLong catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a plain byte count (e.g. 16777216), got '$v'", e)
      }
    }.getOrElse(16L << 20)
    val p = math.max(1L, math.min(fork.sparkContext.defaultParallelism.toLong,
      (batchBytes + bytesPer - 1) / bytesPer)).toInt
    fork.conf.set("spark.sql.shuffle.partitions", p)
    p
  }

  /** The fixed per-entry root, deleted recursively if present. */
  def fresh(name: String): Path = {
    val root = path(name)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    }
    root
  }
}
