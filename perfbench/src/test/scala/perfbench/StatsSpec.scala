package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    assert(Stats.percentile(samples(100), 90) == 90.0)
    assert(Stats.percentile(samples(10), 50) == 5.0)
    assert(Stats.percentile(samples(10), 100) == 10.0)
    assert(Stats.percentile(samples(3), 1) == 1.0)
  }

  test("tail is the highest percentile with ten samples beyond it, with the count") {
    // 100 samples: p90 has exactly 10 beyond it, p95 only 5
    assert(Stats.tail(samples(100)) == Some((90.0, 90.0, 100)))
    // 1000 samples: p99 leaves 10 beyond, p99.9 only 1
    assert(Stats.tail(samples(1000)) == Some((99.0, 990.0, 1000)))
    // 40 samples: p75 leaves 10 beyond, p90 only 4
    assert(Stats.tail(samples(40)) == Some((75.0, 30.0, 40)))
    // 20 samples: the median leaves exactly 10 beyond
    assert(Stats.tail(samples(20)) == Some((50.0, 10.0, 20)))
    // fewer than 20 samples support no percentile
    assert(Stats.tail(samples(19)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (50L, 60L))) == 70L)
    // overlapping children count once
    assert(Stats.selfTime((0L, 100L), Seq((10L, 40L), (20L, 50L))) == 60L)
    // a child reaching outside the parent only counts inside it
    assert(Stats.selfTime((0L, 100L), Seq((-20L, 10L), (90L, 130L))) == 80L)
    // a child covering the parent leaves no self time
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L))) == 0L)
  }

  test("work fraction is executor run time over wall time times cores") {
    assert(Stats.workFraction(executorRunMs = 4000, wallMs = 1000, cores = 4) == 1.0)
    assert(Stats.workFraction(executorRunMs = 440, wallMs = 1000, cores = 4) == 0.11)
    assert(Stats.workFraction(executorRunMs = 100, wallMs = 0, cores = 4) == 0.0)
  }
}
