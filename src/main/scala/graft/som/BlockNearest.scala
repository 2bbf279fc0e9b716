package graft.som

import graft.functions.ArrayArgminSqDist
import org.apache.spark.ml.linalg.Vector

/** The training scan's BMU search: for every row, exactly the (index,
  * distance) of [[ArrayArgminSqDist.nearest]], found by filter and refine
  * over blocks of four rows.
  *
  * Filter. With c the prototype mean, x' = x − c and p'_k = p_k − c, the
  * squared distance is ‖x'‖² + ‖p'_k‖² − 2·x'·p'_k. Four rows share one
  * pass over the transposed centred prototypes: for each component i, four
  * axpys add x'_i·p'_{·i} into four K-long accumulators, a loop the JIT
  * turns into SIMD (plain `*` and `+`; each accumulator is still a fold
  * over i). The screen value is s_k = t_k − 2·g_k with t_k = ‖x'‖² + q_k,
  * q_k = ‖p'_k‖² and g_k the dot product, and E_k = 5·(d+4)·u·t_k
  * (u = 2⁻⁵³) bounds |F_k − s_k|, F_k being the exact fold's result.
  * Refine: the exact fold ([[ArrayArgminSqDist.nearestOf]]) runs, in index
  * order, over every k with s_k − E_k ≤ min_j (s_j + E_j). An excluded k
  * then has F_k ≥ s_k − E_k > min_j (s_j + E_j) ≥ F_j* for the candidate
  * j* attaining the minimum, so it can neither win nor tie.
  *
  * The bound. Write S = ‖x'‖² + ‖p'‖² (real norms of the rounded centred
  * vectors; (‖x'‖ + ‖p'‖)² ≤ 2S), D the real squared distance and
  * γ_n = n·u/(1 − n·u). Assume no underflow or overflow (see below).
  *  - Centring rounds each x'_i and p'_i by at most u relative, so
  *    x − p = (x' − p') + e with ‖e‖ ≤ u/(1−u)·(‖x'‖ + ‖p'‖), and D differs
  *    from D' = ‖x' − p'‖² by at most (2u + O(u²))·2S.
  *  - The screen: the folds ‖x'‖², q and g each err by γ_d times their sum
  *    of absolute terms, which total at most 2S (Cauchy–Schwarz on g);
  *    t = fl(‖x'‖² + q) and s = fl(t − 2g) add u·S and 2u·S:
  *    |s − D'| ≤ (2d + 3)·u·S + O(u²).
  *  - The exact fold: each term rounds twice (difference, square), the d−1
  *    additions of non-negative terms add γ_{d−1}: |F − D| ≤ γ_{d+2}·D
  *    ≤ (2d + 4)·u·S + O(u²).
  *  Together |F − s| ≤ (4d + 11)·u·S + O(d²u²·S). The computed lo = s − E
  *  and hi = s + E round once more, each by at most u·|s ± E| ≤ 2.01·u·S,
  *  and t ≥ (1 − γ_{d+1})·S, so E = 5·(d+4)·u·t leaves about
  *  (d + 7)·u·S of slack for the second-order terms while d·u ≤ 2⁻²⁰
  *  (any array length).
  *
  * Where the assumptions fail the search is [[ArrayArgminSqDist.nearest]]:
  *  - a row with ‖x'‖² > 2⁹⁰⁰ (this includes any NaN or ±∞ component and
  *    any overflow of the centring), or with a centred component in
  *    (0, 2⁻⁴⁰⁰) in magnitude, where a product could underflow;
  *  - every row, when some prototype fails the same test (so also a NaN
  *    or ±∞ prototype);
  *  - the one to three rows left over at the end of `rows`.
  * With every nonzero centred component at least 2⁻⁴⁰⁰, t is 0 or at least
  * 2⁻⁸⁰⁰, and the exact fold's own underflow (at most d·2⁻¹⁰⁷⁵) sits well
  * inside the slack. t = 0 means x' = 0 = p'_k: then x = p_k, s = F = 0 and
  * E = 0 exactly. Below 2⁹⁰⁰ nothing in the screen or the fold overflows.
  *
  * `exact` counts the exact-fold evaluations made. `screen = false` sends
  * every row through [[ArrayArgminSqDist.nearest]]. */
private[graft] final class BlockNearest(prototypes: Array[Double], dim: Int,
                                        screen: Boolean = true) {
  import BlockNearest._

  private val k = prototypes.length / dim
  private val centre = new Array[Double](dim)
  /** centred prototypes, transposed (row i holds component i of every
    * p'_k), and q_k = ‖p'_k‖² */
  private val pt = Array.ofDim[Double](dim, k)
  private val q = new Array[Double](k)
  private val screened: Boolean = screen && {
    var c = 0
    while (c < k) {
      var i = 0
      while (i < dim) { centre(i) += prototypes(c * dim + i); i += 1 }
      c += 1
    }
    var i = 0
    while (i < dim) { centre(i) /= k; i += 1 }
    val row = new Array[Double](dim)
    var ok = true
    c = 0
    while (c < k) {
      q(c) = centred(prototypes, c * dim, row, 0)
      ok &&= q(c) >= 0.0
      i = 0
      while (i < dim) { pt(i)(c) = row(i); i += 1 }
      c += 1
    }
    ok
  }
  private val c1 = 5.0 * (dim + 4) * Math.ulp(1.0) / 2 // 5·(d+4)·2⁻⁵³

  /** a block: its rows, their centred copies (row-major), ‖x'‖² (−1 = not
    * screenable) and per row the dot products with every p'_k */
  private val vs = new Array[Vector](4)
  private val xs = new Array[Array[Double]](4)
  private val xb = new Array[Double](4 * dim)
  private val nx = new Array[Double](4)
  private val g = Array.ofDim[Double](4, k)
  /** one row's candidates and their s − E */
  private val lo = new Array[Double](k)
  private val cand = new Array[Int](k)

  /** exact-fold evaluations so far */
  var exact: Long = 0L

  /** Calls `f(row, index, distance)` for every row, in order. */
  def foreach(rows: Iterator[Vector])(f: (Vector, Int, Double) => Unit): Unit = {
    var n = 0
    while (rows.hasNext) {
      val v = rows.next()
      vs(n) = v; xs(n) = v.toArray; n += 1
      if (n == 4) {
        if (screened) screenBlock()
        var a = 0
        while (a < 4) {
          val (cell, d2) = if (screened && nx(a) >= 0.0) refine(a) else exactAll(xs(a))
          f(vs(a), cell, d2)
          a += 1
        }
        n = 0
      }
    }
    var a = 0
    while (a < n) {
      val (cell, d2) = exactAll(xs(a))
      f(vs(a), cell, d2)
      a += 1
    }
  }

  private def exactAll(x: Array[Double]): (Int, Double) = {
    exact += k
    ArrayArgminSqDist.nearest(x, prototypes, dim)
  }

  /** ‖x − c‖² with x − c written to `out` at `to`, or −1 when that is not
    * screenable: > 2⁹⁰⁰ (or NaN), or a centred component in (0, 2⁻⁴⁰⁰). */
  private def centred(x: Array[Double], from: Int, out: Array[Double], to: Int): Double = {
    var s = 0.0
    var tiny = false
    var i = 0
    while (i < dim) {
      val v = x(from + i) - centre(i)
      out(to + i) = v
      s += v * v
      if (v != 0.0 && Math.abs(v) < Tiny) tiny = true
      i += 1
    }
    if (s <= Huge && !tiny) s else -1.0
  }

  /** Centres the block's rows and fills `g` with their dot products with
    * every p'_k: per component i, four axpys over row i of `pt`, one pass
    * over the prototypes for all four rows (the JIT turns it into SIMD). */
  private def screenBlock(): Unit = {
    val d = dim
    var a = 0
    while (a < 4) {
      nx(a) = if (xs(a).length == d) centred(xs(a), 0, xb, a * d) else -1.0
      java.util.Arrays.fill(g(a), 0.0)
      a += 1
    }
    val g0 = g(0); val g1 = g(1); val g2 = g(2); val g3 = g(3)
    var i = 0
    while (i < d) {
      val p = pt(i)
      val x0 = xb(i); val x1 = xb(d + i); val x2 = xb(2 * d + i); val x3 = xb(3 * d + i)
      var c = 0
      while (c < k) {
        val pc = p(c)
        g0(c) += x0 * pc; g1(c) += x1 * pc; g2(c) += x2 * pc; g3(c) += x3 * pc
        c += 1
      }
      i += 1
    }
  }

  /** Row `a` of a screened block: the exact fold over the candidates. One
    * pass keeps every k with lo_k ≤ the running min of hi (a superset, as
    * that min only falls), then the list is cut to lo_k ≤ the final min. */
  private def refine(a: Int): (Int, Double) = {
    val xn = nx(a)
    val ga = g(a)
    var hiMin = Double.PositiveInfinity
    var n = 0
    var c = 0
    while (c < k) {
      val t = xn + q(c)
      val s = t - 2 * ga(c)
      val e = t * c1
      val hi = s + e
      if (hi < hiMin) hiMin = hi
      val l = s - e
      if (l <= hiMin) { cand(n) = c; lo(n) = l; n += 1 }
      c += 1
    }
    var m = 0
    var j = 0
    while (j < n) {
      if (lo(j) <= hiMin) { cand(m) = cand(j); m += 1 }
      j += 1
    }
    exact += m
    ArrayArgminSqDist.nearestOf(xs(a), prototypes, dim, cand, m)
  }
}

private object BlockNearest {
  /** no product of centred components underflows above this */
  val Tiny: Double = Math.scalb(1.0, -400)
  /** nothing in the screen or the exact fold overflows below this */
  val Huge: Double = Math.scalb(1.0, 900)
}
