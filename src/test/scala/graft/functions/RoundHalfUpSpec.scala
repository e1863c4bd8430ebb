package graft
package functions

import java.lang.Double.doubleToRawLongBits

import org.scalatest.funsuite.AnyFunSuite

/** [[DotProduct.roundHalfUp]]'s fast path against the `BigDecimal`
  * form it replaces, compared as raw bits (so `-0.0` against `+0.0`
  * and NaN payloads count): random doubles over every exponent and over
  * the score range, constructed `k.5·10⁻⁶` ties with their ±1-ulp
  * neighbours, negatives, signed zeros, subnormals, NaN and ±∞, at the
  * two scales the engine rounds at (6 for scores, 0 for the LSH
  * fixed-point elements). */
class RoundHalfUpSpec extends AnyFunSuite {

  private def reference(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def check(xs: Iterator[Double], scales: Seq[Int] = Seq(6, 0)): Int = {
    var n = 0
    xs.foreach { x =>
      scales.foreach { s =>
        val got = DotProduct.roundHalfUp(x, s)
        val want = reference(x, s)
        assert(doubleToRawLongBits(got) === doubleToRawLongBits(want),
          s"roundHalfUp($x [${doubleToRawLongBits(x)}], $s) = $got, want $want")
      }
      n += 1
    }
    n
  }

  /** `x` and its ±1-ulp neighbours, both signs. */
  private def around(x: Double): Iterator[Double] =
    Iterator(x, math.nextUp(x), math.nextDown(x)).flatMap(y => Iterator(y, -y))

  test("a million random doubles: every exponent, the score range, " +
      "scaled fixed-point inputs") {
    val rnd = new scala.util.Random(20261020L)
    val n = check(Iterator.tabulate(1000000) { i =>
      i % 4 match {
        case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 1 => rnd.nextDouble() * 2 - 1
        case 2 => (rnd.nextDouble() * 2 - 1) * 1e6
        case _ => (rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(40) - 20)
      }
    })
    assert(n === 1000000)
  }

  test("constructed ties k.5·10⁻⁶ and k.5, with their ±1-ulp neighbours") {
    val rnd = new scala.util.Random(7L)
    val ks = (0L until 20000L) ++ Seq.fill(20000)(rnd.nextLong() >>> 12) ++
      Seq(1L << 30, (1L << 52) - 1, 1L << 52, 1L << 53)
    check(ks.iterator.flatMap(k =>
      around(java.lang.Double.parseDouble(s"$k.5e-6"))))
    check(ks.iterator.flatMap(k => around(k + 0.5)), Seq(0))
    // a score-shaped tie: cosine values that print with a 5 in the 7th place
    check((0 until 1000000 by 37).iterator.flatMap(j =>
      around(java.lang.Double.parseDouble(f"0.$j%06d5"))))
  }

  test("signed zeros, subnormals, extremes, NaN and infinities") {
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, math.scalb(1.0, 52),
      math.scalb(1.0, 52) / 1e6,
      4.9999995e-7, 5e-7, 1e-7, 0.4999995, 0.5, 1.5, 2.5,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    check(specials.iterator.flatMap(around), Seq(0, 1, 2, 6, 12, 22, 23, -1))
    // results that round to zero are +0.0 whatever the input's sign
    Seq(-0.0, -1e-9, -4.9e-7, -Double.MinPositiveValue).foreach { x =>
      assert(doubleToRawLongBits(DotProduct.roundHalfUp(x, 6)) === 0L, s"$x")
    }
  }
}
