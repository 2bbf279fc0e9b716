package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[Tables.parquet]] infers a file set's schema once: a repeated read of
  * unchanged files runs no Spark job and is the plain `read.parquet` in
  * schema, rows and executed plan; a rewrite or a conf that changes what
  * inference returns triggers a new inference. */
class ParquetTablesSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `body`'s result and the Spark jobs started while it ran. A marker job
    * follows it; the listener bus delivers job starts in order, so once the
    * marker's start arrives every earlier one has been counted. */
  private def jobs[A](body: => A): (A, Int) = {
    val seen = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.marker") != null)) marker.countDown()
        else seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setLocalProperty("graft.spec.marker", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.spec.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never started")
      (out, seen.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  /** `memo` is the plain read: the same schema, rows and executed plan. */
  private def assertSameRead(memo: DataFrame, plain: DataFrame): Unit = {
    assert(memo.schema == plain.schema)
    assert(rows(memo) == rows(plain))
    assert(plan(memo) == plan(plain))
  }

  private def withTmp[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft_tables")
    try body(dir) finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
    }
  }

  test("a second read of the same files runs no job and equals the plain read, all 10 sf0.001 tables") {
    for (t <- tables) {
      val p = s"${sf("sf0.001")}/$t.parquet"
      Tables.parquet(spark, p)
      val (memo, n) = jobs(Tables.parquet(spark, p))
      assert(n == 0, s"$t: the repeated read ran $n jobs")
      assertSameRead(memo, spark.read.parquet(p))
    }
  }

  test("rewriting the path with a different schema triggers a new inference and returns the new schema") {
    withTmp { dir =>
      val p = s"$dir/t"
      spark.range(5).toDF("a").write.parquet(p)
      Tables.parquet(spark, p)
      assert(jobs(Tables.parquet(spark, p))._2 == 0)
      spark.range(7).select(col("id").as("a"), col("id").cast("string").as("b"))
        .write.mode("overwrite").parquet(p)
      val (rewritten, n) = jobs(Tables.parquet(spark, p))
      assert(n >= 1, "a rewritten file set was read with the remembered schema")
      assert(rewritten.columns.toSeq == Seq("a", "b"))
      assertSameRead(rewritten, spark.read.parquet(p))
      assert(jobs(Tables.parquet(spark, p))._2 == 0)
    }
  }

  test("toggling spark.sql.legacy.parquet.nanosAsLong triggers a new inference") {
    val p = s"${sf("sf0.001")}/events.parquet"
    Tables.parquet(spark, p)
    assert(jobs(Tables.parquet(spark, p))._2 == 0)
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val (nanos, n) = jobs(Tables.parquet(spark, p))
      assert(n >= 1, "the nanosAsLong read reused the schema inferred without it")
      assertSameRead(nanos, spark.read.parquet(p))
      assert(jobs(Tables.parquet(spark, p))._2 == 0)
    }
    // one entry per path list: the conf set read last replaced the first
    val (plain, n) = jobs(Tables.parquet(spark, p))
    assert(n >= 1)
    assertSameRead(plain, spark.read.parquet(p))
  }

  test("a multi-path read and a key=value partitioned directory equal the plain read") {
    withTmp { dir =>
      val (a, b, part) = (s"$dir/a", s"$dir/b", s"$dir/part")
      spark.range(4).select(col("id"), (col("id") * 0.5).as("x")).write.parquet(a)
      spark.range(4, 9).select(col("id"), (col("id") * 0.5).as("x")).write.parquet(b)
      spark.range(12).select(col("id"), (col("id") % 3).cast("int").as("k"),
          when(col("id") % 2 === 0, "even").otherwise("odd").as("parity"))
        .write.partitionBy("k", "parity").parquet(part)
      Tables.parquet(spark, a, b)
      val (multi, n1) = jobs(Tables.parquet(spark, a, b))
      assert(n1 == 0)
      assertSameRead(multi, spark.read.parquet(a, b))
      Tables.parquet(spark, part)
      val (parted, n2) = jobs(Tables.parquet(spark, part))
      assert(n2 == 0)
      assert(parted.columns.toSeq == Seq("id", "k", "parity"))
      assertSameRead(parted, spark.read.parquet(part))
      // partition pruning still applies to the memo read
      assertSameRead(parted.where(col("k") === 1), spark.read.parquet(part).where(col("k") === 1))
    }
  }

  test("a Scoped fork hits the parent's entry") {
    val p = s"${sf("sf0.001")}/orders.parquet"
    Tables.parquet(spark, p)
    graft.queries.Scoped(spark) { fork =>
      val (df, n) = jobs(Tables.parquet(fork, p))
      assert(n == 0, s"the fork's read ran $n jobs")
      assert(df.sparkSession eq fork)
      assert(df.schema == spark.read.parquet(p).schema)
    }
  }

  test("a path that does not exist fails as the plain read does") {
    val p = s"${sf("sf0.001")}/no_such_table.parquet"
    val plain = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(p))
    val memo = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, p))
    assert(memo.getCondition == plain.getCondition)
  }
}
