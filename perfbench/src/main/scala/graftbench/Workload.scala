package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final class Outcome {
  /** The gated end-to-end metrics every workload reports. */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own end-to-end figures, under their own names. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures only this workload can give. */
  val layerExtras = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val attempts = new Attempts
  /** The measured interval, epoch ms. */
  var window: (Long, Long) = (0L, 0L)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
}

/** Everything a workload run needs. `ledger` is set on traced runs only. */
final case class Ctx(spark: SparkSession, work: File, seed: Long,
                     seconds: Int, tracer: Tracer, ledger: Option[Ledger]) {
  /** Whether a closed loop that started at `fromNs` and has done `done`
    * units of work goes on: always below `min`; past it, until `seconds`
    * have passed, on untraced runs only. A traced run stops at `min`, so
    * its per-layer totals count the same work however fast the host is.
    */
  def more(done: Int, min: Int, fromNs: Long): Boolean =
    done < min || (ledger.isEmpty && System.nanoTime() < fromNs + seconds * 1000000000L)

  /** Id of the innermost open span on traced runs. */
  def spanId: Option[Int] = ledger.map(_.currentSpan).filter(_ >= 0)
}

/** A workload: a seeded input generator plus the measured run. */
trait Workload {
  type Inputs

  def name: String

  /** Generate the inputs under `dir`; this is part of set-up. */
  def prepare(dir: File, seed: Long): Inputs

  /** Input rows and bytes, for the result record. */
  def inputSize(in: Inputs): (Long, Long)

  def run(ctx: Ctx, in: Inputs): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(Lifecycle, Curate)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Total bytes and file count under `dir`. */
  def diskUsage(dir: File): (Long, Int) = {
    val files = walk(dir)
    (files.map(_.length).sum, files.size)
  }

  def walk(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) walk(f) else Seq(f)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
