package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Runs a tiny query, final ORDER BY included, in one task.
  *
  * A root global `Sort` plans as a range exchange: a `RangePartitioner`
  * sample job runs the whole child plan once, the range-shuffle map job
  * runs it again, and only then does the sort run. This rule rewrites a
  * root `Sort(global)` (or `Project(Sort(global))`) of a non-streaming
  * plan to `Sort(global, Repartition(1, shuffle = false, child))`:
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * sort's `OrderedDistribution`, so no exchange is planned and the
  * child runs once.
  *
  * The price: `CoalesceExec(1)` adds no stage boundary, so the whole
  * stage feeding the sort runs in ONE task (scan, filters, projections
  * and UDFs, a broadcast join's probe side), not just the sort. The
  * gate keeps that to plans too small for parallelism to pay: the
  * summed `sizeInBytes` of the sort child's LEAF relations must be at
  * most `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB
  * by default), the smallest partition AQE coalesces shuffle output to,
  * which under the default `parallelismFirst` is also the largest
  * shuffle it reads in one partition. Leaves, not the child's own
  * estimate: joins estimate their output as the product of their
  * inputs, so an output gate would refuse most small joins. The leaf
  * gate bounds the input, not the output, so a row-multiplying plan
  * over tiny inputs sorts its whole output in one task; that sort
  * spills through the external sorter like any other. A leaf of unknown
  * size reports `spark.sql.defaultSizeInBytes` (8 EiB by default) and
  * never qualifies.
  *
  * Only the ROOT sort of the plan being optimized moves: write and CTAS
  * commands (the command is the root), `orderBy().limit()`
  * (`TakeOrderedAndProject`), sorts inside larger plans and streaming
  * plans keep their range-partitioned shape. */
object CoalesceSmallRootSort extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan match {
      case s: Sort if qualifies(s) => coalesce(s)
      case p @ Project(_, s: Sort) if qualifies(s) => p.copy(child = coalesce(s))
      case _ => plan
    }

  private def qualifies(s: Sort): Boolean = s.global && (s.child match {
    case Repartition(1, false, _) => false // already rewritten
    case child => child.collectLeaves().map(_.stats.sizeInBytes).sum <=
      BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  })

  private def coalesce(s: Sort): Sort =
    s.copy(child = Repartition(1, shuffle = false, s.child))
}
