package graft.core

import org.apache.spark.sql.Observation

/** The one bounded wait for an [[Observation]]'s metrics after the
  * observed plan has materialized (via `localCheckpoint`) — behind
  * every observe-instead-of-a-job statistic: the connected-component
  * and PageRank convergence counters and the stream steps' batch
  * bounds and probe row counts.
  *
  * The checkpoint has already run the plan, so the metrics should be
  * present NOW — but `obs.get` blocks indefinitely, and its delivery
  * relies on `localCheckpoint` materializing under a tracked SQL
  * execution, which is undocumented behavior; if a future Spark
  * changes it, an unbounded wait would hang the driver forever. The
  * wait is bounded at 60 s and fails loudly instead (`getOrEmpty` is
  * private[sql]).
  */
object Observed {

  def await(obs: Observation, caller: String): Map[String, Any] =
    try {
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Await.result(
        scala.concurrent.Future(obs.get),
        scala.concurrent.duration.Duration(60, "s"))
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"$caller: observe metrics never arrived after checkpoint " +
            "materialization — this Spark no longer runs localCheckpoint " +
            "under a tracked execution; compute the statistics with an " +
            "explicit action instead")
    }

  /** One long metric; None when it is SQL NULL (a `sum` or `max` that
    * observed no row).
    */
  def long(obs: Observation, name: String, caller: String): Option[Long] =
    await(obs, caller).get(name).flatMap(Option(_)).map(_.asInstanceOf[Long])
}
