package graft.queries

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.functions.BmuFold
import graft.som.{SOM, SOMModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The job shape of the SOM passes over the data, measured: `som_fit5`
  * runs the estimator's kernel, one Spark job per iteration plus a fixed
  * overhead, not a re-planned multi-job query per iteration; `SOM.fit` adds
  * only `takeSample`'s two jobs and creates no RDD per iteration;
  * `computeCost` is one job; and k-means, the one-cell SOM step, runs one
  * job per seed and per iteration over one cached decode. */
class SomFitJobsSpec extends SparkSpec {

  /** The Spark jobs started while `body` runs, in start order: the ids of
    * the RDDs each job's stages read (with `cachedOnly`, only those marked
    * for caching). */
  private def jobRdds(body: => Unit, cachedOnly: Boolean = false): Seq[Set[Int]] = {
    val started = new ConcurrentLinkedQueue[(Int, Set[Int])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId -> e.stageInfos.flatMap(_.rddInfos)
          .filter(r => !cachedOnly || r.storageLevel.isValid).map(_.id).toSet)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are async: poll until the queue goes quiet
      var last = -1
      var spins = 0
      while (started.size != last && spins < 50) {
        last = started.size; spins += 1; Thread.sleep(100)
      }
      started.asScala.toSeq.sortBy(_._1).map(_._2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = jobRdds(body).length

  /** A fresh copy of the sf0.001 tables: its paths are new to
    * `Tables.parquet`, so the first read of each table infers its schema. */
  private def coldCopy(): String = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(sf("sf0.001"))
    val dst = java.nio.file.Files.createTempDirectory("graft_jobs_sf")
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    }
    dst.toString
  }

  test("som_fit5 runs one job per iteration plus a fixed overhead") {
    val dir = coldCopy()
    val cold = jobs { MlQueries.somFit5(spark, dir); () }
    // overhead: one parquet schema read (the prototype table and the
    // training input are both the embeddings table: the second read reuses
    // the first one's schema) and the prototype collect
    assert(cold == MlQueries.FitIters + 2, s"som_fit5 ran $cold jobs")
    // the schemas are remembered: a repeated run pays only the collect
    val warm = jobs { MlQueries.somFit5(spark, dir); () }
    assert(warm == MlQueries.FitIters + 1, s"a repeated som_fit5 ran $warm jobs")
  }

  test("a km_fit entry run plus count() is 15 jobs cold and 14 warm: its centroid rows are not checkpointed") {
    val dir = coldCopy()
    def run(): Int = {
      graft.operators.Artifacts.clear()
      jobs { SimilarityQueries.kmFit(spark, dir).count(); () }
    }
    // the embeddings schema read, 12 fit jobs and count's two; the 9
    // driver-built centroid rows are a LocalRelation, which Artifacts.shared
    // does not checkpoint
    val cold = run()
    assert(cold == 15, s"cold km_fit + count ran $cold jobs")
    val warm = run()
    assert(warm == 14, s"warm km_fit + count ran $warm jobs")
    graft.operators.Artifacts.clear()
  }

  private def vectors(seed: Long, n: Int, partitions: Int) = {
    import spark.implicits._
    val rnd = new Random(seed)
    spark.sparkContext.parallelize(Seq.tabulate(n)(i =>
      (i.toLong, Vectors.dense(Array.fill(8)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7)))))), partitions)
      .toDF("id", "features")
  }

  test("a SOM fit with maxIter = n and tol = 0 runs n + 2 jobs, its n scans over the same RDDs") {
    val df = vectors(1, 600, 3)
    val n = 4
    var model: SOMModel = null
    val shape = jobRdds {
      model = new SOM().setHeight(3).setWidth(3).setMaxIter(n).setTol(0.0).setSeed(2).fit(df)
    }
    assert(model.summary.numIter == n)
    // takeSample's count (which fills the points cache) and its sample job,
    // then one job per iteration
    assert(shape.length == n + 2, s"fit ran ${shape.length} jobs")
    val scans = shape.takeRight(n)
    assert(scans.head.nonEmpty && scans.forall(_ == scans.head), s"scan stages read RDDs $scans")
  }

  test("computeCost is one job and equals the partition-order fold of its row distances bit for bit") {
    val rnd = new Random(3)
    val model = new SOMModel("cost", Array.fill(9)(Vectors.dense(Array.fill(8)(rnd.nextGaussian() * 100))))
      .setGrid(3, 3)
    val df = vectors(4, 2000, 6)
    var cost = Double.NaN
    assert(jobs { cost = model.computeCost(df) } == 1)
    val fold = BmuFold(model.prototypes.map(_.toArray).toSeq)
    val acc = new Array[Double](fold.k)
    val partitionSums = df.select("features").rdd.glom().collect().map(_.foldLeft(0.0) { (s, r) =>
      val x = r.getAs[Vector](0).toArray
      s + acc(fold.argmin(x, acc))
    })
    assert(partitionSums.length == 6)
    val want = partitionSums.foldLeft(0.0)(_ + _)
    assert(java.lang.Double.doubleToRawLongBits(cost) == java.lang.Double.doubleToRawLongBits(want),
      s"computeCost $cost, partition-order fold $want")
  }

  test("a k-means fit runs at most k - 1 + iters + 2 jobs, all over one cached RDD; maximin seeding k jobs") {
    val pts = SomQueries.points(spark, sf("sf0.001"))
    val (k, iters) = (9, 3)
    // every job reads the same cached RDDs, among them the fit's own decode,
    // which it releases when it returns
    def oneCache(shape: Seq[Set[Int]]): Boolean =
      shape.forall(_ == shape.head) &&
        shape.head.exists(id => !spark.sparkContext.getPersistentRDDs.contains(id))
    for (spherical <- Seq(false, true)) {
      val shape = jobRdds(graft.operators.Kmeans.fitLloyd(pts, k, iters, spherical), cachedOnly = true)
      // a pool scan (which fills the cache), k - 1 seeding scans, one scan per iteration
      assert(shape.length <= k - 1 + iters + 2, s"fit ran ${shape.length} jobs")
      assert(shape.length == k + iters, s"fit ran ${shape.length} jobs")
      assert(oneCache(shape), s"jobs read cached RDDs $shape")
    }
    // the NSW entries: one pool scan and NswEntries - 1 seeding scans
    val entries = jobRdds(graft.operators.Kmeans.maximinSeeds(pts, SimilarityQueries.NswEntries,
      spherical = true), cachedOnly = true)
    assert(entries.length <= 4, s"maximin seeding ran ${entries.length} jobs")
    assert(oneCache(entries), s"jobs read cached RDDs $entries")
  }
}
