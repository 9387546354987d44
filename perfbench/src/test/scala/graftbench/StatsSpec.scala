package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles carry their sample count") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 0.50) == Pct(10.0, 20))
    assert(Stats.percentile(xs, 0.75) == Pct(15.0, 20))
    assert(Stats.percentile(xs, 0.95) == Pct(19.0, 20))
    assert(Stats.percentile(xs, 1.0) == Pct(20.0, 20))
    assert(Stats.percentile(Seq(7.0), 0.95) == Pct(7.0, 1))
  }

  test("percentiles ignore input order") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0.5) == Pct(3.0, 5))
    assert(Stats.percentile(xs, 0.8) == Pct(4.0, 5))
  }

  test("a tail percentile reports how few samples lie beyond it") {
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.95).beyond(0.95) == 1)
    assert(Stats.percentile((1 to 200).map(_.toDouble), 0.95).beyond(0.95) == 10)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0), 0.75).beyond(0.75) == 0)
  }

  test("median averages the middle pair of an even sample") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("empty samples and bad shares are refused") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 0.0))
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("a throwing operation is counted as failed and yields no latency") {
    val a = new Attempts
    assert(a.run(Thread.sleep(5)).isDefined)
    val failed = a.run[Int] { Thread.sleep(50); throw new IllegalStateException("boom") }
    assert(failed.isEmpty)
    assert(a.run(42).contains(42))
    assert(a.attempted == 3)
    assert(a.failed == 1)
    assert(a.latenciesMs.size == 2)
    assert(a.latenciesMs.forall(_ < 50), "time-to-failure must not become a sample")
    assert(a.errors.exists(_.contains("boom")))
    assert(math.abs(a.failedFrac - 1.0 / 3) < 1e-12)
  }

  test("operations timed elsewhere are counted with their failures") {
    val a = new Attempts
    a.record(attempted = 10, failed = 2, error = Some("query stopped"))
    assert((a.attempted, a.failed, a.latenciesMs) == ((10, 2, Nil)))
    assert(a.failedFrac == 0.2)
  }
}
