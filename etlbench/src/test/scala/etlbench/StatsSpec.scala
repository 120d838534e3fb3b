package etlbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail has at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == Some((75.0, 30.0)))
    assert(xs.count(_ > 30.0) == 10)
    // shuffled input, same answer
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == Some((75.0, 30.0)))
  }

  test("eleven samples are the fewest with a tail; it is the smallest") {
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((100.0 / 11, 1.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("a hundred samples give p90") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 31L))) == 21)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("self time subtracts overlapping jobs once") {
    // two concurrent jobs cover [10, 60); a third sticks out of the op
    val op = (0L, 100L)
    val jobs = Seq((10L, 40L), (30L, 60L), (90L, 120L))
    assert(Stats.selfTime(op, jobs) == 100 - 50 - 10)
    // a job nested inside another counts once
    assert(Stats.selfTime(op, Seq((10L, 90L), (20L, 30L))) == 20)
    // children entirely outside the span do not count
    assert(Stats.selfTime(op, Seq((-50L, -10L), (100L, 200L))) == 100)
    assert(Stats.selfTime(op, Nil) == 100)
  }
}
