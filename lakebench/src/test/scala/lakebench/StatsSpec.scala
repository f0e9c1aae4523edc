package lakebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 90.0) // ten samples (91..100) lie beyond it
    assert(t.percentile == 90.0)
    assert(t.n == 100)
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(10.0, 50.0, 20))
    val eleven = Stats.tail((1 to 11).map(_.toDouble))
    assert(eleven.value == 1.0 && math.abs(eleven.percentile - 100.0 / 11) < 1e-9)
  }

  test("with ten samples or fewer the tail is the maximum, labelled p100") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 3))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == Stats.Tail(10.0, 100.0, 10))
    assert(Stats.tail(Seq(4.0)).describe == "p100 of 1 samples")
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
