package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Parquet table reads that infer a file set's schema once.
  *
  * A plain `read.parquet` infers the schema on every call: Spark 4.1 runs
  * a one-task job (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`,
  * shown as `parquet at …` over a `ParallelCollectionRDD`) to read a
  * footer, even when the same unchanged files were read a moment earlier.
  * [[parquet]] remembers the schema Spark inferred for a path list. While
  * the files under those paths and the session's confs are unchanged, it
  * reads with that schema passed in, which runs no job and gives the same
  * schema, rows and plan as the plain read.
  *
  * The memo plays the role of a catalog's stored table schema: it holds no
  * data and checks the listing (file names, lengths, modification times)
  * on every read, so, like [[graft.operators.Artifacts.sharedPath]]
  * layouts, it survives `Artifacts.clear()`. It keeps one entry per
  * distinct path list; a new listing or conf set for the same paths
  * replaces the old entry. Every `read.parquet` under `src/main` goes
  * through here (`tools/ci.sh` checks it).
  */
object Tables {
  private final case class Entry(listing: Seq[(String, Long, Long)],
                                 confs: Map[String, String], schema: StructType)

  private val memo = TrieMap.empty[List[String], Entry]

  /** `s.read.parquet(paths: _*)`, with the schema inferred once per file
    * set. A path that cannot be listed (missing, unreadable) reads plainly,
    * so it fails as the plain read does. */
  def parquet(s: SparkSession, paths: String*): DataFrame = {
    val key = paths.toList
    val files = listing(s, key)
    val confs = keyConfs(s)
    memo.get(key) match {
      case Some(e) if files.contains(e.listing) && e.confs == confs =>
        s.read.schema(e.schema).parquet(key: _*)
      case _ =>
        val df = s.read.parquet(key: _*)
        files.foreach(l => memo.put(key, Entry(l, confs, df.schema)))
        df
    }
  }

  /** The confs the catalog's `Scoped` forks set that steer only how a
    * query is planned and run, never what the parquet reader or partition
    * discovery returns: the checkpoint manager every fork sets, state-store
    * sizing, catalog registration and join tuning. They stay out of the
    * key, so that a fork shares its parent's entry. Every other set conf is
    * part of the key: `spark.sql.legacy.parquet.nanosAsLong`, for one,
    * changes what inference returns. */
  private val ExecutionOnly = Seq("spark.sql.streaming.", "spark.sql.shuffle.partitions",
    "spark.sql.catalog.", "spark.sql.optimizer.", "spark.sql.autoBroadcastJoinThreshold")

  private def keyConfs(s: SparkSession): Map[String, String] =
    s.conf.getAll.filterNot { case (k, _) => ExecutionOnly.exists(k.startsWith) }

  /** Every file under `paths` (globs expanded, directories walked) as
    * (path, length, modification time), or None when a path does not
    * list (missing, unreadable, malformed). */
  private def listing(s: SparkSession, paths: Seq[String]): Option[Seq[(String, Long, Long)]] =
    try {
      val conf = ColumnBridge.newHadoopConf(s)
      Some(paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        val matched = Option(fs.globStatus(path)).getOrElse(Array.empty[FileStatus])
        if (matched.isEmpty) throw new java.io.FileNotFoundException(p)
        matched.toSeq.flatMap { st =>
          if (!st.isDirectory) Seq(st)
          else {
            val it = fs.listFiles(st.getPath, true)
            val out = Seq.newBuilder[FileStatus]
            while (it.hasNext) out += it.next()
            out.result()
          }
        }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      })
    } catch { case NonFatal(_) => None }
}
