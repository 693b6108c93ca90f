package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val oneToHundred = (1 to 100).map(_.toDouble)

  test("nearest-rank percentile") {
    val s = oneToHundred.toIndexedSeq
    assert(Stats.percentile(s, 50) == 50.0)
    assert(Stats.percentile(s, 90) == 90.0)
    assert(Stats.percentile(s, 99.9) == 100.0)
    assert(Stats.percentile(IndexedSeq(7.0), 75) == 7.0)
  }

  test("samples beyond a percentile") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(20, 50) == 10)
    assert(Stats.beyond(19, 50) == 9)
  }

  test("tail is the highest rung with at least ten samples beyond it") {
    assert(Stats.tail(oneToHundred, cap = 99.9) == Some((90.0, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble), cap = 99.9) == Some((99.0, 990.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble), cap = 99.9) == Some((75.0, 30.0)))
  }

  test("tail never exceeds the workload's cap") {
    assert(Stats.tail((1 to 1000).map(_.toDouble), cap = 90) == Some((90.0, 900.0)))
  }

  test("tail is undefined below twenty samples") {
    assert(Stats.tail((1 to 19).map(_.toDouble), cap = 99.9).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble), cap = 99.9) == Some((50.0, 10.0)))
  }

  test("tail ignores sample order") {
    val shuffled = new scala.util.Random(1).shuffle(oneToHundred)
    assert(Stats.tail(shuffled, cap = 95) == Stats.tail(oneToHundred, cap = 95))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
