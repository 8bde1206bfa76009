package perfbench

import org.scalactic.TolerantNumerics
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private implicit val eq: org.scalactic.Equality[Double] = TolerantNumerics.tolerantDoubleEquality(1e-12)

  test("quantile interpolates between order statistics") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("weighted quantile counts every event of a file") {
    // one file of 9 events at 100 ms, one of 1 event at 900 ms
    val xs = Seq(100.0 -> 9L, 900.0 -> 1L)
    assert(Stats.weightedQuantile(xs, 0.5) == 100.0)
    assert(Stats.weightedQuantile(xs, 0.9) == 100.0)
    assert(Stats.weightedQuantile(xs, 0.95) == 900.0)
  }

  test("geomean") {
    assert(Stats.geomean(Seq(1.0, 4.0)) == 2.0)
    assert(Stats.geomean(Seq(2.0, 8.0, 4.0)) == 4.0)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }
}
