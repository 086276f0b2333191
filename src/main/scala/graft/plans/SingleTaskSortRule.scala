package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global sort over a small, already-measured input
  * sorts in one task instead of behind a range exchange.
  *
  * A range exchange costs two jobs on top of the work that feeds it: a
  * sampling job and the range-shuffle map job, and each re-runs the
  * pipeline between the last shuffle and the sort. For a small input AQE
  * then coalesces the range partitions to one task anyway. This rule puts
  * a `Repartition(1, shuffle = false)` under the sort. Its physical
  * operator, `CoalesceExec(1)`, reports `SinglePartition`, which satisfies
  * the sort's `OrderedDistribution`, so no exchange is planned, and AQE
  * adopts the plan for having fewer shuffles.
  *
  * It fires only when
  *  - every leaf under the sort is a materialized `LogicalQueryStage` (or
  *    a `LocalRelation`), so sizes are measured shuffle or broadcast
  *    output, never a file-size estimate; and
  *  - the sort's input is at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  *    itself aims one post-shuffle partition at.
  *
  * A sort under a limit is a top-K (`TakeOrderedAndProject`), which never
  * range-partitions; the rule leaves it and everything below it alone. */
object SingleTaskSortRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit => plan
    // already single-partition; AQE re-runs its rules to a fixed point
    case Sort(_, true, Repartition(1, _, _), _) => plan
    case s @ Sort(_, true, child, _) if measured(child) &&
        child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _ => plan.mapChildren(apply)
  }

  private def measured(child: LogicalPlan): Boolean = child.collectLeaves().forall {
    case s: LogicalQueryStage => s.isMaterialized
    case _: LocalRelation => true
    case _ => false
  }
}
