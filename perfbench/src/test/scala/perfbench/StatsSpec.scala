package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("percentiles are nearest-rank") {
    assert(Stats.percentile(samples(100), 50) == 50.0)
    assert(Stats.percentile(samples(100), 95) == 95.0)
    assert(Stats.percentile(samples(10), 50) == 5.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
    assert(Stats.median(Seq(9.0, 1.0, 5.0)) == 5.0)
  }

  test("the tail is the highest percentile with 10 samples beyond it") {
    val t1000 = Stats.tail(samples(1000))
    assert(t1000.pct == 99.0 && t1000.value == 990.0 && t1000.beyond == 10 && t1000.n == 1000)
    val t200 = Stats.tail(samples(200))
    assert(t200.pct == 95.0 && t200.value == 190.0 && t200.beyond == 10)
    val t40 = Stats.tail(samples(40))
    assert(t40.pct == 75.0 && t40.value == 30.0 && t40.beyond == 10)
    val t20 = Stats.tail(samples(20))
    assert(t20.pct == 50.0 && t20.value == 10.0 && t20.beyond == 10)
  }

  test("the tail percentile moves smoothly with the sample count") {
    val pcts = (20 to 400).map(n => Stats.tail(samples(n)).pct)
    assert(pcts.zip(pcts.tail).forall { case (a, b) => b > a && b - a < 2.6 })
    assert((20 to 400).forall(n => Stats.tail(samples(n)).beyond == 10))
  }

  test("under 20 samples the median stands in for the tail") {
    val t = Stats.tail(samples(19))
    assert(t.value == Stats.median(samples(19)) && t.beyond == 9 && t.n == 19)
    assert(Stats.tail(Seq(4.0)).value == 4.0)
  }

  test("the tail ignores sample order") {
    val xs = samples(300)
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == Stats.tail(xs))
  }
}
