package graft.som

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class GridSpec extends AnyFunSuite {

  test("cellDist is Manhattan distance on the grid") {
    // 3-wide grid: cell 0=(0,0), 5=(1,2), 7=(2,1)
    assert(Grid.cellDist(3)(0, 0) == 0.0)
    assert(Grid.cellDist(3)(0, 5) == 3.0)
    assert(Grid.cellDist(3)(5, 7) == 2.0)
    assert(Grid.cellDist(3)(0, 8) == 4.0)
  }

  test("cellDist is symmetric and satisfies triangle inequality") {
    val rnd = new Random(0)
    val d = Grid.cellDist(5) _
    for (_ <- 0 until 500) {
      val (a, b, c) = (rnd.nextInt(25), rnd.nextInt(25), rnd.nextInt(25))
      assert(d(a, b) == d(b, a))
      assert(d(a, c) <= d(a, b) + d(b, c))
    }
  }

  test("cellDistHex: every interior cell has exactly 6 neighbors at distance 1") {
    // 5x5 even-r offset grid; interior cells are rows 1-3, cols 1-3.
    val d = Grid.cellDistHex(5) _
    for (r <- 1 to 3; c <- 1 to 3) {
      val k = r * 5 + c
      val at1 = (0 until 25).count(j => j != k && d(k, j) == 1.0)
      assert(at1 == 6, s"cell $k has $at1 hex neighbors at distance 1")
    }
    // rectangular Manhattan gives only 4 — the topologies genuinely differ
    assert((0 until 25).count(j => j != 12 && Grid.cellDist(5)(12, j) == 1.0) == 4)
  }

  test("cellDistHex is a metric: symmetric, triangle inequality, 0 iff equal") {
    val rnd = new Random(3)
    val d = Grid.cellDistHex(7) _
    for (_ <- 0 until 500) {
      val (a, b, c) = (rnd.nextInt(49), rnd.nextInt(49), rnd.nextInt(49))
      assert(d(a, b) == d(b, a))
      assert(d(a, c) <= d(a, b) + d(b, c))
      assert((d(a, b) == 0.0) == (a == b))
    }
  }

  test("cellDistFor dispatches on topology and rejects unknown") {
    assert(Grid.cellDistFor("rectangular", 5)(0, 6) == 2.0)
    assert(Grid.cellDistFor("hexagonal", 5)(0, 5) == 1.0) // (0,0)->(1,0) is one hex step
    assert(Grid.cellDistFor("hexagonal", 5)(0, 6) == 2.0) // (0,0)->(1,1) is two (odd-r offset)
    intercept[IllegalArgumentException](Grid.cellDistFor("toroidal", 5))
  }

  test("temperature hits tMax at iter 0 and tMin at last iter, both decays") {
    for (decay <- Seq("exponential", "linear")) {
      assert(math.abs(Grid.temperature(decay, 0, 20, 10.0, 1.0) - 10.0) < 1e-12)
      assert(math.abs(Grid.temperature(decay, 19, 20, 10.0, 1.0) - 1.0) < 1e-12)
    }
  }

  test("temperature is monotone decreasing") {
    for (decay <- Seq("exponential", "linear"); i <- 1 until 20)
      assert(Grid.temperature(decay, i, 20, 10.0, 1.0) <
        Grid.temperature(decay, i - 1, 20, 10.0, 1.0))
  }

  test("maxIter<=1 pins temperature to tMin (reference NaN edge, SURVEY §7.3.1)") {
    assert(Grid.temperature("exponential", 0, 1, 10.0, 1.0) == 1.0)
    assert(Grid.temperature("linear", 0, 1, 10.0, 1.0) == 1.0)
  }

  test("gaussian kernel: 1 at d=0, decreasing, never zero") {
    assert(Grid.kernelWeight("gaussian", 0.0, 2.0) == 1.0)
    assert(Grid.kernelWeight("gaussian", 1.0, 2.0) > Grid.kernelWeight("gaussian", 2.0, 2.0))
    assert(Grid.kernelWeight("gaussian", 50.0, 2.0) >= 0.0)
  }

  test("rectangular kernel: step at d=T inclusive") {
    assert(Grid.kernelWeight("rectangular", 2.0, 2.0) == 1.0)
    assert(Grid.kernelWeight("rectangular", 2.0001, 2.0) == 0.0)
  }

  test("neighborhood table: cellDistFor distances and kernelWeight bits for every pair") {
    def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    for ((h, w) <- Seq((1, 1), (1, 3), (3, 1), (3, 3), (4, 7), (7, 4), (20, 20));
         topology <- Seq("rectangular", "hexagonal"); kernel <- Seq("gaussian", "rectangular");
         t <- Seq(10.0, 3.0, 1.0, 0.3, 0.0, Double.NaN)) {
      val nb = Grid.neighborhood(kernel, topology, h, w, t)
      val cd = Grid.cellDistFor(topology, w)
      assert(nb.cells == h * w)
      for (k1 <- 0 until h * w; k2 <- 0 until h * w) {
        assert(nb.dist(k1, k2) == cd(k1, k2))
        assert(bits(nb(k1, k2)) == bits(Grid.kernelWeight(kernel, cd(k1, k2), t)))
      }
    }
    intercept[IllegalArgumentException](Grid.neighborhood("gaussian", "toroidal", 2, 2, 1.0))
    intercept[IllegalArgumentException](Grid.neighborhood("bubble", "hexagonal", 2, 2, 1.0))
  }
}
