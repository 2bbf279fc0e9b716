package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** [[HalfUp.round]] against the BigDecimal expression it replaces, compared
  * on raw bits (so +0.0 vs -0.0 and NaN payloads count). */
class HalfUpSpec extends AnyFunSuite {

  /** The reference: HALF_UP of the decimal `Double.toString(x)`. */
  private def reference(scale: Int, x: Double): Double =
    if (scale < 0 || !java.lang.Double.isFinite(x)) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def check(scale: Int, x: Double): Unit = {
    val got = HalfUp.round(scale)(x)
    val want = reference(scale, x)
    if (bits(got) != bits(want)) fail(s"round($scale)($x) = $got, BigDecimal gives $want")
  }

  /** x and its neighbours up to `ulps` steps either way, both signs. */
  private def around(x: Double, ulps: Int): Seq[Double] = {
    val up = Iterator.iterate(x)(math.nextUp).take(ulps + 1).toSeq
    val down = Iterator.iterate(x)(math.nextDown).take(ulps + 1).toSeq
    (up ++ down).flatMap(v => Seq(v, -v))
  }

  private val Scales = (0 to 8) ++ Seq(22, 23, 25, 30)

  test("decimal halves and their 1-2 ulp neighbours") {
    val rnd = new Random(11)
    for (s <- Scales) {
      val ns = (0L until 300L) ++ Seq.fill(300)(rnd.nextInt(Int.MaxValue).toLong) ++
        Seq.fill(100)(rnd.nextLong() >>> rnd.between(11, 40))
      for (n <- ns) {
        // (n + 0.5) / 10^s, parsed from its decimal so it prints back as the half
        val half = BigDecimal(n * 10 + 5, s + 1).toDouble
        around(half, 2).foreach(check(s, _))
      }
    }
    // the classic: 2.675 is below the half in binary, but its decimal is
    // the half, and BigDecimal(x) rounds the decimal
    assert(HalfUp.round(2)(2.675) == 2.68)
    assert(HalfUp.round(2)(-2.675) == -2.68)
    assert(HalfUp.round(2)(0.125) == 0.13 && HalfUp.round(0)(0.5) == 1.0 && HalfUp.round(0)(-2.5) == -3.0)
  }

  test("either side of the fast-path guards: the half margin, 2^52 and scale 22") {
    val rnd = new Random(12)
    for (s <- 0 to 22; _ <- 0 until 20) {
      // y = |x|·10^s from 1 to 2^50: the margin y·2^-51 spans 1 to 2 ulps
      // of y, so 64 ulps either side of a half cross it on both sides
      val y = math.floor(math.pow(2, rnd.nextDouble() * 50)) + 0.5
      around(y / math.pow(10, s), 64).foreach(check(s, _))
    }
    val two52 = math.scalb(1.0, 52)
    for (s <- Seq(0, 1, 3, 6, 22, 23); y <- Seq(two52, two52 / 2, two52 * 2))
      around(y / math.pow(10, s), 8).foreach(check(s, _))
    for (x <- around(0.1234567890123456789, 4) ++ around(1e-20 + 5e-23, 4); s <- 20 to 24)
      check(s, x)
  }

  test("negatives that round to zero give +0.0") {
    for ((s, x) <- Seq((0, -0.4), (0, -0.49999999999999994), (1, -0.04), (4, -0.00004999),
                       (6, -1e-7), (6, -4.9e-7), (8, -1e-300), (2, -0.0049)))
      assert(bits(HalfUp.round(s)(x)) == 0L, s"round($s)($x)")
    val rnd = new Random(13)
    for (s <- 0 to 8; _ <- 0 until 200)
      check(s, -rnd.nextDouble() * 0.5 / math.pow(10, s))
  }

  test("-0.0, subnormals, huge values, NaN and infinities") {
    val specials = Seq(-0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      2.5e-320, -2.5e-320, java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL,
      Double.MaxValue, -Double.MaxValue, 1e300, -1e22, 9.007199254740993e15)
    for (s <- Scales; x <- specials) check(s, x)
    assert(bits(HalfUp.round(3)(-0.0)) == 0L)
    for (s <- Seq(-1, 0, 6, 30)) {
      assert(HalfUp.round(s)(Double.NaN).isNaN)
      assert(HalfUp.round(s)(Double.PositiveInfinity) == Double.PositiveInfinity)
      assert(HalfUp.round(s)(Double.NegativeInfinity) == Double.NegativeInfinity)
    }
    // a negative scale is off, -0.0 included
    for (x <- specials) assert(bits(HalfUp.round(-1)(x)) == bits(x))
  }

  test("a seeded sweep of 1.2 million values matches BigDecimal bit for bit") {
    val rnd = new Random(14)
    var n = 0
    while (n < 1200000) {
      val s = rnd.nextInt(12)
      val x = (n % 4) match {
        case 0 => rnd.nextGaussian() * math.pow(10, rnd.between(-8, 12))
        case 1 => (rnd.nextInt(2000001) - 1000000) / math.pow(10, rnd.between(0, 10))
        case 2 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case _ => rnd.nextDouble() * 100 - 50
      }
      check(s, x)
      n += 1
    }
  }
}
