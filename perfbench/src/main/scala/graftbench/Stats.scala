package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** A percentile together with the number of samples it was read from,
  * so a tail figure taken from a handful of samples shows as such.
  */
final case class Pct(value: Double, n: Int) {

  /** Samples strictly above this percentile's rank. */
  def beyond(p: Double): Int = n - Stats.rank(n, p)
}

object Stats {

  /** 1-based nearest rank of the `p`-th percentile among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of all samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 1, s"percentile share must be in (0, 1], got $p")
    val s = xs.sorted
    Pct(s(rank(s.size, p) - 1), s.size)
  }

  /** Median, averaging the two middle samples of an even-sized sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** Failure accounting for a workload's operations. An operation that
  * throws is counted as failed and yields no latency sample: its
  * time-to-failure is never mixed into the timings.
  */
final class Attempts {
  private val samples = ArrayBuffer.empty[Double]
  private val errs = ArrayBuffer.empty[String]
  private var nAttempted = 0
  private var nFailed = 0

  /** Run one operation; `Some(result)` and a latency sample on success. */
  def run[T](body: => T): Option[T] = {
    nAttempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        nFailed += 1
        errs += e.toString.take(300)
        None
    }
  }

  /** Count operations timed elsewhere (streaming batches report their
    * own durations); `failed` of them did not complete.
    */
  def record(attempted: Int, failed: Int, error: Option[String] = None): Unit = {
    nAttempted += attempted
    nFailed += failed
    errs ++= error
  }

  def attempted: Int = nAttempted
  def failed: Int = nFailed
  def errors: Seq[String] = errs.toSeq
  def latenciesMs: Seq[Double] = samples.toSeq
  def failedFrac: Double = if (nAttempted == 0) 0.0 else nFailed.toDouble / nAttempted
}
