package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.golden.GoldenFormat

/** GoldenFormat.pyrepr against its String.format reference
  * ([[PyreprReference]]), byte for byte, over seeded doubles spread
  * across the whole fixed-notation window [1e-4, 1e16). No
  * SparkSession. */
class PyreprSpec extends AnyFunSuite {

  /** Seeded values of four shapes: log-uniform magnitudes (full 17-digit
    * mantissas), random bit patterns that land in the window, short
    * decimals (few significant digits, where the shortest search stops
    * early), and ratios like the pipeline's smoothed averages. Both
    * signs. */
  private def samples(n: Int, seed: Long): Iterator[Double] = {
    val rng = new scala.util.Random(seed)
    Iterator.continually {
      val v = rng.nextInt(4) match {
        case 0 => math.pow(10, -4 + 20 * rng.nextDouble())
        case 1 =>
          val bits = java.lang.Double.doubleToRawLongBits(1e-4) +
            (rng.nextLong() & Long.MaxValue) %
              (java.lang.Double.doubleToRawLongBits(1e16) - java.lang.Double.doubleToRawLongBits(1e-4))
          java.lang.Double.longBitsToDouble(bits)
        case 2 => (rng.nextInt(2000000) + 1) * math.pow(10, -(rng.nextInt(10) + 1))
        case _ => (rng.nextInt(100000) + 1).toDouble / (rng.nextInt(999) + 1)
      }
      if (rng.nextBoolean()) -v else v
    }.filter(v => math.abs(v) >= 1e-4 && math.abs(v) < 1e16).take(n)
  }

  test("pyrepr equals the String.format reference on 120k seeded doubles") {
    var n = 0
    samples(120000, seed = 4242L).foreach { d =>
      val got = GoldenFormat.pyrepr(d)
      val want = PyreprReference.pyrepr(d)
      assert(got == want, s"pyrepr(${java.lang.Double.toString(d)}): $got vs reference $want")
      n += 1
    }
    assert(n == 120000)
  }

  test("pyrepr round-trips and equals the reference at the window edges") {
    val edges = Seq(1e-4, 1.0000000000000002e-4, 0.1, 0.2, 0.3, 1.5, 2.5, 0.15, 0.25,
      9999999.999999998, 1e7 + 0.5, 9.999999999999998e15, 1.7976931348623157e15 / 3)
    (edges ++ edges.map(-_)).foreach { d =>
      val got = GoldenFormat.pyrepr(d)
      assert(got == PyreprReference.pyrepr(d), s"$d")
      assert(java.lang.Double.parseDouble(got) == d, s"$got does not round-trip to $d")
    }
  }
}
