package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("median by kind does not depend on how many samples each kind has") {
    val a = Seq.fill(3)("a" -> 1.0)
    val b = Seq.fill(2)("b" -> 10.0)
    // a plain median of these five samples would be 1.0
    assert(Stats.medianByKind(a ++ b) == 5.5)
    assert(Stats.medianByKind(a.take(1) ++ b ++ b) == 5.5)
    assert(Stats.medianByKind(Seq("a" -> 1.0, "a" -> 3.0, "b" -> 4.0, "c" -> 9.0)) == 4.0)
  }

  test("tail is the highest percentile with 10 samples beyond it") {
    val xs = scala.util.Random.shuffle((1 to 30).map(_.toDouble))
    val t = Stats.tail(xs)
    assert(t.value == 20.0)
    assert(t.beyond == 10 && xs.count(_ > t.value) == 10)
    assert(t.samples == 30)
    assert(math.abs(t.percentile - 100.0 * 20 / 30) < 1e-9)
  }

  test("tail moves up as samples are added") {
    val t = Stats.tail((1 to 100).map(_.toDouble))
    assert(t.value == 90.0 && t.percentile == 90.0 && t.beyond == 10)
  }

  test("with too few samples the tail is the maximum") {
    val t = Stats.tail(Seq(5.0, 1.0, 9.0, 2.0))
    assert(t == Stats.Tail(9.0, 100.0, 0, 4))
    // 19 samples would put the 10-beyond sample below the median
    assert(Stats.tail((1 to 19).map(_.toDouble)).value == 19.0)
    assert(Stats.tail((1 to 20).map(_.toDouble)).value == 10.0)
  }

  test("covered counts overlapping intervals once and clips them") {
    assert(Stats.covered(Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0)), 0, 10) == 6.0)
    assert(Stats.covered(Seq((-5.0, -1.0), (11.0, 12.0)), 0, 10) == 0.0)
    assert(Stats.covered(Nil, 0, 10) == 0.0)
  }
}
