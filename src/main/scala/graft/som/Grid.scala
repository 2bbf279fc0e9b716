package graft.som

/** Pure driver-side scalar kernels of the SOM algorithm: grid distance,
  * temperature decay schedule and neighborhood kernel.
  *
  * Semantics match the reference (reference `som/SOM.scala:272-290`):
  *  - cellDist: Manhattan distance on a rectangular height×width grid where
  *    cell id k has row = k / width, col = k % width (`som/SOM.scala:288-290`).
  *  - temperature: exponential `tMax*(tMin/tMax)^(iter/(maxIter-1))` or linear
  *    interpolation (`som/SOM.scala:272-275`). The reference divides by
  *    maxIter-1 and NaNs at maxIter=1 (SURVEY.md §7.3.1); we guard that edge
  *    by pinning T = tMin when maxIter <= 1.
  *  - kernel: gaussian `exp(-d²/T²)` or rectangular window `1 if d<=T else 0`
  *    (`som/SOM.scala:280-283`).
  */
object Grid {

  /** Manhattan distance between cells k1, k2 on a rectangular `width`-wide grid. */
  def cellDist(width: Int)(k1: Int, k2: Int): Double = {
    val r1 = k1 / width; val c1 = k1 % width
    val r2 = k2 / width; val c2 = k2 % width
    (math.abs(r2 - r1) + math.abs(c2 - c1)).toDouble
  }

  /** Hexagonal grid distance (odd-r offset rows → cube coordinates; the
    * standard hex metric where every interior cell has 6 neighbors at
    * distance 1). Extension beyond the reference: its README lists hexagonal
    * topology as a to-do it never implemented (reference `README.md:89`). */
  def cellDistHex(width: Int)(k1: Int, k2: Int): Double = {
    def cube(k: Int): (Int, Int) = {
      val row = k / width; val col = k % width
      val q = col - (row - (row & 1)) / 2 // odd-r → axial q; cube x=q, z=row, y=-x-z
      (q, row)
    }
    val (x1, z1) = cube(k1); val (x2, z2) = cube(k2)
    val dx = x1 - x2; val dz = z1 - z2; val dy = -(x1 + z1) + (x2 + z2)
    ((math.abs(dx) + math.abs(dy) + math.abs(dz)) / 2).toDouble
  }

  /** Cell-distance function for a topology param value. */
  def cellDistFor(topology: String, width: Int): (Int, Int) => Double = topology match {
    case "rectangular" => cellDist(width)
    case "hexagonal"   => cellDistHex(width)
    case other         => throw new IllegalArgumentException(s"unknown topology: $other")
  }

  /** Temperature at `iter` (0-based) of `maxIter` total iterations. */
  def temperature(decay: String, iter: Int, maxIter: Int, tMax: Double, tMin: Double): Double = {
    if (maxIter <= 1) return tMin
    val frac = iter.toDouble / (maxIter - 1).toDouble
    decay match {
      case "exponential" => tMax * math.pow(tMin / tMax, frac)
      case "linear"      => tMax + frac * (tMin - tMax)
      case other         => throw new IllegalArgumentException(s"unknown decay: $other")
    }
  }

  /** Neighborhood weight for grid distance `d` at temperature `t`. */
  def kernelWeight(kernel: String, d: Double, t: Double): Double = kernel match {
    case "gaussian"    => math.exp(-(d * d) / (t * t))
    case "rectangular" => if (d <= t) 1.0 else 0.0
    case other         => throw new IllegalArgumentException(s"unknown kernel: $other")
  }

  /** The neighborhood kernel of one iteration on a `height`×`width` map:
    * [[kernelWeight]] at temperature `t`, evaluated once per integer grid
    * distance 0 .. height+width-2 (no two cells are farther apart under
    * either topology), so `apply(k1, k2)` returns the same bits as
    * `kernelWeight(kernel, cellDistFor(topology, width)(k1, k2), t)` without
    * a per-pair closure or `exp`. O(K + height + width) memory. */
  def neighborhood(kernel: String, topology: String, height: Int, width: Int,
                   t: Double): Neighborhood = {
    val hex = topology match {
      case "rectangular" => false
      case "hexagonal"   => true
      case other         => throw new IllegalArgumentException(s"unknown topology: $other")
    }
    new Neighborhood(hex, height * width, width,
      Array.tabulate(height + width - 1)(d => kernelWeight(kernel, d.toDouble, t)))
  }

  /** A [[neighborhood]] table and the per-cell grid coordinates it is
    * indexed through. */
  final class Neighborhood private[Grid] (hex: Boolean, val cells: Int, width: Int,
                                          weights: Array[Double]) {
    // per-cell coordinates: (col, row) on the rectangular grid, (axial q,
    // row) on the hexagonal one (the odd-r conversion of cellDistHex)
    private val qs = Array.tabulate(cells) { k =>
      val row = k / width; val col = k % width
      if (hex) col - (row - (row & 1)) / 2 else col
    }
    private val rs = Array.tabulate(cells)(_ / width)

    /** [[cellDist]] or [[cellDistHex]] of cells k1 and k2, as an Int. */
    def dist(k1: Int, k2: Int): Int = {
      val dq = qs(k1) - qs(k2); val dr = rs(k1) - rs(k2)
      if (hex) (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
      else math.abs(dq) + math.abs(dr)
    }

    /** Neighborhood weight of the pair (k1, k2). */
    def apply(k1: Int, k2: Int): Double = weights(dist(k1, k2))
  }

}
