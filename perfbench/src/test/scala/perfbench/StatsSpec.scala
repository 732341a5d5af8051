package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the 11th-largest sample, at the percentile leaving 10 beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 90.0)
    assert(t.beyond == 10 && t.n == 100)
    assert(t.percentile == 90.0)
    assert(xs.count(_ > t.value) == 10)
  }

  test("tail does not depend on sample order") {
    val xs = scala.util.Random.shuffle((1 to 37).map(_.toDouble))
    assert(Stats.tail(xs).value == 27.0)
    assert(math.abs(Stats.tail(xs).percentile - 100.0 * 27 / 37) < 1e-9)
  }

  test("a sample of 11 has its minimum as tail; 10 or fewer report the maximum with 0 beyond") {
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    val small = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(small.value == 3.0 && small.beyond == 0 && small.percentile == 100.0)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("zipf sizes sum exactly, are non-increasing and skewed") {
    val s = Stats.zipfSizes(1 << 17, 64, 1.0)
    assert(s.sum == (1 << 17) && s.size == 64)
    assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    assert(s.head > 20 * s.last)
    assert(Stats.zipfSizes(8192, 128, 0.0).forall(_ == 64))
  }

  test("multiset hash ignores order but counts duplicates") {
    val a = Stats.multisetHash(Iterator("x", "y", "y"))
    assert(a == Stats.multisetHash(Iterator("y", "x", "y")))
    assert(a != Stats.multisetHash(Iterator("x", "y")))
    assert(a._1 == 3)
  }

  test("doubles render rounded to 9 significant digits") {
    assert(Stats.roundDouble(0.1 + 0.2) == Stats.roundDouble(0.3))
    assert(Stats.roundDouble(-0.0) == "0")
    assert(Stats.roundDouble(1234.5) == "1234.5")
  }
}
