package convbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("the tail helper picks the highest percentile with >= 10 samples beyond it") {
    assert(Stats.tail(samples(200)) == Some((95.0, 190.0)))
    assert(Stats.tail(samples(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(samples(199)).map(_._1) == Some(90.0))
    assert(Stats.tail(samples(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(samples(50)).map(_._1) == Some(80.0))
    assert(Stats.tail(samples(20)) == Some((50.0, 10.0)))
    assert(Stats.tail(samples(19)).isEmpty)
    Seq(20, 57, 200, 333, 10000).foreach { n =>
      val (p, v) = Stats.tail(samples(n)).get
      assert(n - v >= 10, s"n=$n p=$p")
      val higher = Stats.Tails.takeWhile(_ > p)
      assert(higher.forall(q => n - Stats.percentile(samples(n), q) < 10), s"n=$n")
    }
  }

  test("percentiles are nearest-rank and ignore input order") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 100.0) == 5.0)
    assert(Stats.percentile(xs, 1.0) == 1.0)
  }
}
