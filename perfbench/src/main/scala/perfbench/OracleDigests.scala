package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Maintenance tool behind `perfbench/tools/make_oracle_digests.py`; the
  * benchmark itself only reads the digests it writes.
  *
  * `sql <out.json>` writes the DuckDB oracle SQL of every entry in
  * `CatalogMix.oracleEntries`;
  * `digest <dir> <out.tsv>` digests each `<dir>/<entry>.parquet` (the oracle
  * results DuckDB wrote) with the same [[Digest]] the benchmark applies to
  * the Spark results. */
object OracleDigests {
  def main(argv: Array[String]): Unit = {
    val code = try { run(argv.toIndexedSeq); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(argv: Seq[String]): Unit = argv match {
    case Seq("sql", out) =>
      val oracle = SparkEntry.oracleSql
      val missing = CatalogMix.oracleEntries.filterNot(oracle.contains)
      require(missing.isEmpty, s"entries without an oracle: ${missing.mkString(", ")}")
      Files.writeString(Paths.get(out), CatalogMix.oracleEntries
        .map(e => s"${Json.str(e)}:${Json.str(oracle(e))}").mkString("{", ",\n", "}\n"))
    case Seq("digest", dir, out) =>
      val spark = Main.session(Runtime.getRuntime.availableProcessors)
      val lines = CatalogMix.oracleEntries.map { e =>
        s"$e\t${Digest.of(spark.read.parquet(s"$dir/$e.parquet"))}"
      }
      Files.writeString(Paths.get(out),
        "# entry<TAB>rows:hash of the DuckDB oracle result on perfbench/data/sf0.01\n" +
          lines.mkString("", "\n", "\n"))
      spark.stop()
    case _ => throw new IllegalArgumentException("usage: sql <out.json> | digest <dir> <out.tsv>")
  }
}
