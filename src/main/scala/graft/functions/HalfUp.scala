package graft.functions

/** The one HALF_UP decimal rounding of the driver and executor code:
  * bit-identical to `BigDecimal(x).setScale(scale, HALF_UP).toDouble`, which
  * matches both Spark's round() and DuckDB's round() (away from zero on exact
  * halves; math.rint would be half-even), at a fraction of its cost.
  *
  * `BigDecimal(x)` scales D, the decimal string of `Double.toString(x)`, not
  * the binary value of x: 2.675 rounds to 2.68 at 2 decimals although the
  * double lies below the half. The fast path therefore decides only where
  * the decimal of D·10^s cannot be on the other side of a half:
  *  - y = |x|·10^s in floating point, s ≤ 22 so 10^s is exact. D is within
  *    one ulp of x (it parses back to x), and the product adds at most half
  *    an ulp of y, so |y − |D|·10^s| ≤ 1.5·2^-52·y for normal x; a subnormal
  *    x adds at most 2^-1000 absolutely. The margin y·2^-51 + 2^-1000 covers
  *    both.
  *  - When the fraction f = y − ⌊y⌋ (exact) is farther than the margin from
  *    ½, HALF_UP of |D|·10^s is n = ⌊y⌋ + (f > ½), an exact integer below
  *    2^52, and ±n / 10^s is one correctly rounded division of exact
  *    operands, which is what `BigDecimal.toDouble` returns for n·10^-s.
  *    BigDecimal has no −0, so a zero result is +0.0.
  * Everything else (near a half, y ≥ 2^52, s > 22) takes the BigDecimal
  * expression itself. A negative scale is off; NaN and ±∞ pass through
  * unrounded (BigDecimal rejects them), so a poisoned row surfaces as a
  * NaN, not a crash. */
object HalfUp {

  /** 10^0 .. 10^22, every one an exact double (5^22 < 2^53). */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)
  private val Two52 = math.scalb(1.0, 52)
  private val TwoM51 = math.scalb(1.0, -51)
  private val TwoM1000 = math.scalb(1.0, -1000)

  def round(scale: Int)(x: Double): Double =
    if (scale < 0 || !java.lang.Double.isFinite(x)) x
    else if (scale < Pow10.length) {
      val p = Pow10(scale)
      val y = math.abs(x) * p
      val fl = math.floor(y)
      val f = y - fl
      if (y < Two52 && math.abs(f - 0.5) > y * TwoM51 + TwoM1000) {
        val n = if (f > 0.5) fl + 1 else fl
        if (n == 0) 0.0 else (if (x < 0) -n else n) / p
      } else exact(scale, x)
    } else exact(scale, x)

  private def exact(scale: Int, x: Double): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
}
