package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: a global sort of a small input runs as one task behind
  * a single-partition shuffle, not behind a range shuffle.
  *
  * Spark plans `Sort(order, global = true, child)` as a range-partitioned
  * shuffle, and building its `RangePartitioner` runs a separate sampling
  * job that re-executes the sort's whole input. When that input is no
  * larger than what AQE's partition coalescing merges into one partition
  * anyway, the range shuffle ends in one partition and the sample bought
  * nothing. `Sort(order, true, Repartition(1, shuffle = true, child))`
  * plans as `Exchange SinglePartition` and a one-task sort: the same
  * final sort parallelism, one job fewer.
  *
  * It fires when all of these hold:
  *   - AQE and its partition coalescing are on; without them nothing
  *     would have coalesced the range shuffle.
  *   - `child.stats.sizeInBytes` is at most
  *     `spark.sql.adaptive.coalescePartitions.minPartitionSize` under
  *     `parallelismFirst` (the default), else
  *     `spark.sql.adaptive.advisoryPartitionSizeInBytes`: the sizes at
  *     which coalescing yields one partition.
  *   - Every operator in `child` has a size estimate that bounds its
  *     output ([[bounded]]); `Generate`, object operators and
  *     `LogicalRDD` do not.
  *   - The sort is not the child of a limit or offset (also through a
  *     Project): the planner makes those `TakeOrderedAndProject`, which
  *     samples nothing.
  *
  * [[GraftExtensions]] injects it twice: as an optimizer rule, deciding
  * on static estimates, and as an AQE runtime optimizer rule, where a
  * materialized shuffle stage (`LogicalQueryStage`) reports its exact
  * bytes. The runtime pass catches a sort over an aggregate or join
  * whose static estimate is large but whose shuffle output is tiny; it
  * runs before the range shuffle's stage is created, so the sampling
  * job never starts.
  */
object SmallSortSinglePartition extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled ||
        !plan.containsPattern(SORT)) plan
    else {
      val limited = underLimit(plan)
      plan.transformDownWithPruning(_.containsPattern(SORT)) {
        case s @ Sort(_, true, child, _) if !onePartition(child) &&
            !limited.exists(_ eq s) && bounded(child) &&
            child.stats.sizeInBytes <= onePartitionBytes =>
          s.copy(child = Repartition(1, shuffle = true, child))
      }
    }

  /** The bytes up to which AQE's coalescing makes one partition. */
  private def onePartitionBytes: BigInt = BigInt(
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case r: Repartition => r.numPartitions == 1
    case _ => false
  }

  /** Sorts the planner turns into `TakeOrderedAndProject`. */
  private def underLimit(plan: LogicalPlan): Seq[LogicalPlan] = plan.collect {
    case l @ (_: LocalLimit | _: GlobalLimit | _: Offset) => l.children.head match {
      case Project(_, s: Sort) => s
      case c => c
    }
  }

  /** True when every operator's size estimate is an upper bound on its
    * output, so a small estimate means a small input. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage => s.isMaterialized || bounded(s.logicalPlan)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation | _: Range => true
    case _: Project | _: Filter | _: Aggregate | _: Join | _: Union | _: Window |
        _: Expand | _: SetOperation | _: Distinct | _: LocalLimit | _: GlobalLimit |
        _: Offset | _: Sort | _: Repartition | _: RepartitionByExpression =>
      p.children.forall(bounded)
    case _ => false
  }
}
