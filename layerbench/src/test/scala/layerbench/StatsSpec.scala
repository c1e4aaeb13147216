package layerbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def sample(n: Int) = (1 to n).map(_.toDouble)

  test("a tail is reported only with ten samples beyond it") {
    assert(Stats.tail(sample(99), 0.9).isEmpty)
    assert(Stats.tail(sample(100), 0.9).nonEmpty)
    assert(Stats.tail(sample(19), 0.5).isEmpty)
    assert(Stats.tail(sample(20), 0.5).contains(10.5))
    assert(Stats.tail(sample(999), 0.99).isEmpty)
  }

  test("the highest supported percentile is chosen") {
    assert(Stats.highestTail(sample(19)).isEmpty)
    assert(Stats.highestTail(sample(40)).map(_._1).contains(0.75))
    assert(Stats.highestTail(sample(200)).map(_._1).contains(0.95))
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(sample(5), 1.0) == 5.0)
  }

  test("the seed fixes the op order") {
    val w = Workloads.read
    val orders = (0L until 20L).map(w.order)
    orders.foreach(o => assert(o.sortBy(_.name) == w.ops.sortBy(_.name)))
    assert(w.order(7L) == w.order(7L))
    assert(orders.distinct.size > 1)
  }
}
