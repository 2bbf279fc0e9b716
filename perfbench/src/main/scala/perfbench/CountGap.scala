package perfbench

import graft.SparkEntry
import graft.operators.Artifacts

/** Measures, for each catalog_mix entry, the wall time of `count()` against
  * that of the benchmark's [[Digest]] over every column: the reason the
  * benchmark times the digest. Run by `perfbench/tools/count_gap.py`;
  * argument: the sf0.01 data directory. Prints one line per entry. */
object CountGap {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = Main.session(Runtime.getRuntime.availableProcessors)
    val queries = SparkEntry.queries
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    // one untimed round so that neither side pays class loading and JIT
    CatalogMix.entries.foreach(e => Digest.of(queries(e)(spark, dir)))
    println("entry\tcount_s\tdigest_s")
    CatalogMix.entries.foreach { e =>
      val reps = (1 to 3).map { _ =>
        Artifacts.clear()
        val c = time(queries(e)(spark, dir).count())
        Artifacts.clear()
        (c, time(Digest.of(queries(e)(spark, dir))))
      }
      println(f"$e\t${Stats.median(reps.map(_._1))}%.3f\t${Stats.median(reps.map(_._2))}%.3f")
    }
    spark.stop()
    System.exit(0)
  }
}
