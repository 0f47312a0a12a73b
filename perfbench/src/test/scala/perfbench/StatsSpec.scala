package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t == Stats.Tail(90.0, 90.0, 100, 10))
    assert(xs.count(_ > t.value) == 10)
  }

  test("the tail percentile follows the sample count") {
    val t = Stats.tail((1 to 40).map(_.toDouble))
    assert(t.percentile == 75.0 && t.value == 30.0 && t.n == 40 && t.beyond == 10)
    val u = Stats.tail((1 to 11).map(_.toDouble))
    assert(u.value == 1.0 && u.beyond == 10 && u.n == 11)
  }

  test("with ten samples or fewer the tail is the maximum, with nothing beyond") {
    val t = Stats.tail(Seq(5.0, 1.0, 3.0))
    assert(t == Stats.Tail(100.0, 5.0, 3, 0))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
