package graft.syncbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail: the highest percentile with at least ten samples beyond") {
    val xs = (1 to 1000).map(_.toDouble)
    // 990 has exactly 991..1000 beyond it
    assert(Stats.tail(xs) === Some((990.0, 99.0)))
    assert(Stats.tail(scala.util.Random.shuffle(xs)) === Some((990.0, 99.0)))
    val small = (1 to 11).map(_.toDouble)
    assert(Stats.tail(small).map(_._1) === Some(1.0))
    // ten or fewer samples leave no percentile with ten beyond it
    assert(Stats.tail((1 to 10).map(_.toDouble)) === None)
    assert(Stats.tail(Nil) === None)
    // with one beyond: the slowest sample but one
    assert(Stats.tail(Seq(5.0, 9.0, 1.0, 7.0, 3.0, 8.0), beyond = 1) ===
      Some((8.0, 500.0 / 6)))
    assert(Stats.tail(Seq(5.0), beyond = 1) === None)
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 99) === 99.0)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(Seq(5.0), 99) === 5.0)
  }
}
