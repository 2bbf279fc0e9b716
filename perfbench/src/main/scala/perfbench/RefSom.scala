package perfbench

/** Independent single-threaded batch SOM used to check `graft.som.SOM.fit`
  * bit for bit. It follows the algorithm's definition, not the library's
  * code: plain exhaustive argmin with the lowest index winning ties, per-cell
  * sums in row order, gaussian kernel exp(-d^2/T^2) over the Manhattan grid
  * distance, exponential temperature decay from tMax to tMin, and HALF_UP
  * rounding of the per-cell sums and the updated prototypes. */
object RefSom {

  final case class Result(prototypes: Array[Array[Double]], cost: Double, iterations: Int)

  def sqdist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** (index, squared distance) of the closest prototype; lowest index on ties. */
  def closest(protos: Array[Array[Double]], p: Array[Double]): (Int, Double) = {
    var best = 0
    var bestD = sqdist(protos(0), p)
    var k = 1
    while (k < protos.length) {
      val d = sqdist(protos(k), p)
      if (d < bestD) { best = k; bestD = d }
      k += 1
    }
    (best, bestD)
  }

  def round(decimals: Int)(x: Double): Double =
    if (decimals < 0 || !java.lang.Double.isFinite(x)) x
    else BigDecimal(x).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble

  def fit(points: Array[Array[Double]], init: Array[Array[Double]], height: Int, width: Int,
          maxIter: Int, tol: Double, protoDecimals: Int, sumDecimals: Int,
          tMax: Double = 10.0, tMin: Double = 1.0): Result = {
    val k = height * width
    require(init.length == k)
    val dim = init(0).length
    var protos = init.map(_.clone())
    var cost = 0.0
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      var total = 0.0
      points.foreach { p =>
        val (c, d2) = closest(protos, p)
        var i = 0
        while (i < dim) { sums(c)(i) += p(i); i += 1 }
        counts(c) += 1
        total += d2
      }
      cost = round(sumDecimals)(total)
      val rs = sums.map(_.map(round(sumDecimals)))
      val t = if (maxIter <= 1) tMin else tMax * math.pow(tMin / tMax, iter.toDouble / (maxIter - 1).toDouble)
      moved = false
      protos = Array.tabulate(k) { cell =>
        val acc = new Array[Double](dim)
        var norm = 0.0
        var j = 0
        while (j < k) {
          if (counts(j) > 0) {
            val d = (math.abs(cell / width - j / width) + math.abs(cell % width - j % width)).toDouble
            val w = math.exp(-(d * d) / (t * t))
            if (w != 0.0) {
              var i = 0
              while (i < dim) { acc(i) += w * rs(j)(i); i += 1 }
              norm += w * counts(j).toDouble
            }
          }
          j += 1
        }
        val next =
          if (norm > 0) acc.map(a => round(protoDecimals)(a / norm))
          else protos(cell).map(round(protoDecimals))
        if (sqdist(next, protos(cell)) > tol * tol) moved = true
        next
      }
      iter += 1
    }
    Result(protos, cost, iter)
  }
}
