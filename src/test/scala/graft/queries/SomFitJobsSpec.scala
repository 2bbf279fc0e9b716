package graft.queries

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger

/** The shape of the catalog's SOM fit, measured: `som_fit5` runs the
  * estimator's kernel, one Spark job per iteration plus a fixed overhead,
  * not a re-planned multi-job query per iteration. */
class SomFitJobsSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are async: poll until the counter goes quiet
      var last = -1
      var spins = 0
      while (n.get != last && spins < 50) {
        last = n.get; spins += 1; Thread.sleep(100)
      }
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("som_fit5 runs one job per iteration plus a fixed overhead") {
    val dir = sf("sf0.001")
    val measured = jobs { MlQueries.somFit5(spark, dir); () }
    // overhead: two parquet schema reads (prototype table, training input)
    // and the prototype collect
    assert(measured == MlQueries.FitIters + 3, s"som_fit5 ran $measured jobs")
  }
}
