package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.domain.DomainQueries
import graft.functions.{Scalars, Udfs}
import graft.operators._
import graft.sources.Scans
import graft.streaming.Streamy

/** One query of a workload. `fn` is the public entry point from
  * [[SparkEntry.queries]]; it is None when a frozen workload names a
  * query the program no longer has, which the runner counts as a failed
  * execution instead of dropping it. */
final case class Query(name: String, module: String,
    fn: Option[(SparkSession, String) => DataFrame])

object Workload {
  /** Each module's public query map under its `<pkg>.<Module>` label. */
  lazy val modules: Seq[(String, Set[String])] = Seq(
    "sources.Scans" -> Scans.queries.keySet,
    "operators.Projections" -> Projections.queries.keySet,
    "operators.Joins" -> Joins.queries.keySet,
    "operators.SetOps" -> SetOps.queries.keySet,
    "operators.Aggs" -> Aggs.queries.keySet,
    "operators.Windows" -> Windows.queries.keySet,
    "functions.Scalars" -> Scalars.queries.keySet,
    "functions.Udfs" -> Udfs.queries.keySet,
    "streaming.Streamy" -> Streamy.queries.keySet,
    "domain.DomainQueries" -> DomainQueries.queries.keySet,
    "operators.TextOps" -> TextOps.queries.keySet,
    "operators.SimOps" -> SimOps.queries.keySet,
    "operators.WarehouseOps" -> WarehouseOps.queries.keySet,
    "operators.CdcOps" -> CdcOps.queries.keySet)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, ks) if ks.contains(name) => m }
      .getOrElse("unknown")

  /** Resolves a frozen list of query names against the program. */
  def resolve(names: Seq[String]): Seq[Query] = {
    val entry = SparkEntry.queries
    names.map(n => Query(n, moduleOf(n), entry.get(n)))
  }

  /** Queries the program has that no frozen workload lists. */
  def uncovered(frozen: Set[String]): Seq[String] =
    SparkEntry.queries.keys.filterNot(frozen).toSeq.sorted
}
