package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row id), so the same seed gives the same table whatever
  * the partitioning, and the Spark driver can regenerate any row for a check
  * without collecting it. */
object Gen {

  /** SplitMix64 finaliser: a bijective 64-bit mixer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Small deterministic generator (SplitMix64 stream) with a Box-Muller
    * gaussian, so the values never depend on the JDK's own RNG code. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    /** Uniform in [0, 1) with 53 random bits. */
    def uniform(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def gaussian(): Double = {
      val u1 = 1.0 - uniform() // (0, 1]: log stays finite
      val u2 = uniform()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  /** A gaussian mixture in `dim` dimensions: `clusters` centres uniform in
    * [-spread, spread]^dim, unit-variance noise around each. */
  final case class Mixture(centers: Array[Array[Double]], sigma: Double) {
    def dim: Int = centers(0).length
  }

  def mixture(seed: Long, clusters: Int, dim: Int, spread: Double = 4.0): Mixture = {
    val r = new Rng(mix(seed ^ 0x6d697874757265L))
    Mixture(Array.fill(clusters, dim)((2.0 * r.uniform() - 1.0) * spread), 1.0)
  }

  /** Row `i` of stream `stream`: a point of mixture `m`. Distinct streams
    * of one seed are independent tables drawn from the same mixture. */
  def point(m: Mixture, seed: Long, stream: Long, i: Long): Array[Double] = {
    val r = new Rng(mix(mix(seed ^ (stream * 0x632BE59BD9B4E019L)) + i))
    val c = m.centers(r.nextInt(m.centers.length))
    val out = new Array[Double](c.length)
    var j = 0
    while (j < out.length) { out(j) = c(j) + m.sigma * r.gaussian(); j += 1 }
    out
  }

  def points(m: Mixture, seed: Long, stream: Long, from: Long, until: Long): Array[Array[Double]] =
    (from until until).map(i => point(m, seed, stream, i)).toArray

  /** `(id: bigint, features: array<double>)` with `n` rows in `parts`
    * partitions, generated on the executors. */
  def frame(spark: SparkSession, m: Mixture, seed: Long, stream: Long, n: Long, parts: Int): DataFrame = {
    val gen = udf((i: Long) => point(m, seed, stream, i))
    spark.range(0, n, 1, parts).select(col("id"), gen(col("id")).as("features"))
  }
}
