package graft

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import org.apache.spark.sql.internal.SQLConf

/** The gate that [[SmallSortSinglePartition]] and
  * [[SmallPlanSinglePartition]] share: when a plan's input is small
  * enough that AQE would coalesce its shuffles into one partition
  * anyway, and which operators' size estimates can be trusted to say so.
  */
private[graft] object SmallInput {
  private def conf = SQLConf.get

  /** AQE and its partition coalescing are on; without them nothing
    * would have coalesced a shuffle into one partition. */
  def coalescing: Boolean =
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled

  /** The bytes up to which AQE's coalescing makes one partition:
    * `coalescePartitions.minPartitionSize` under `parallelismFirst`
    * (the default), else `advisoryPartitionSizeInBytes`. */
  def onePartitionBytes: BigInt = BigInt(
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** True when every operator's size estimate is an upper bound on its
    * output, so a small estimate means a small input. A memory-sink
    * table (`MemoryPlan`) estimates row count × default row width over
    * rows held on the driver, the bound `LocalRelation` gets too. */
  def bounded(p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage => s.isMaterialized || bounded(s.logicalPlan)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation | _: Range | _: MemoryPlan => true
    case _: Project | _: Filter | _: Aggregate | _: Join | _: Union | _: Window |
        _: Expand | _: SetOperation | _: Distinct | _: LocalLimit | _: GlobalLimit |
        _: Offset | _: Sort | _: Repartition | _: RepartitionByExpression =>
      p.children.forall(bounded)
    case _ => false
  }

  def onePartition(p: LogicalPlan): Boolean = p match {
    case r: Repartition => r.numPartitions == 1
    case _ => false
  }
}

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
  *   - AQE and its partition coalescing are on ([[SmallInput.coalescing]]).
  *   - `child.stats.sizeInBytes` is at most
  *     [[SmallInput.onePartitionBytes]].
  *   - Every operator in `child` has a size estimate that bounds its
  *     output ([[SmallInput.bounded]]); `Generate`, object operators and
  *     `LogicalRDD` do not.
  *   - The sort is not the child of a limit or offset (also through a
  *     Project): the planner makes those `TakeOrderedAndProject`, which
  *     samples nothing.
  *   - The sort's child is not one partition already (as after
  *     [[SmallPlanSinglePartition]]).
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
  import SmallInput._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!coalescing || !plan.containsPattern(SORT)) plan
    else {
      val limited = underLimit(plan)
      plan.transformDownWithPruning(_.containsPattern(SORT)) {
        case s @ Sort(_, true, child, _) if !onePartition(child) &&
            !limited.exists(_ eq s) && bounded(child) &&
            child.stats.sizeInBytes <= onePartitionBytes =>
          s.copy(child = Repartition(1, shuffle = true, child))
      }
    }

  /** Sorts the planner turns into `TakeOrderedAndProject`. */
  private def underLimit(plan: LogicalPlan): Seq[LogicalPlan] = plan.collect {
    case l @ (_: LocalLimit | _: GlobalLimit | _: Offset) => l.children.head match {
      case Project(_, s: Sort) => s
      case c => c
    }
  }
}

/** Optimizer rule: a small batch query runs in one partition, with no
  * exchange at all.
  *
  * At bench scale a query's inputs are a few KB, and each of its
  * exchanges costs a job or a stage, a scheduling round trip, while
  * AQE's coalescing then merges every shuffle into one partition anyway.
  * This rule plans such a query as one partition from its scans on:
  * `Repartition(1, shuffle = false)` (a `CoalesceExec`, whose output is
  * `SinglePartition`) goes in as the child of every `Aggregate`, every
  * `Window`, every global `Sort` and both sides of every equi-join, and
  * an equi-join without a user hint gets `SHUFFLE_HASH` on both sides.
  * EnsureRequirements then finds every required distribution satisfied
  * and adds no `Exchange`, and the planner adds no `BroadcastExchange`.
  * The repartitions sit above the Project/Filter chains over the scans,
  * so `PushedFilters` and `ReadSchema` stay as they were. A user's join
  * hint is kept.
  *
  * It works on the query (for a write, the query under the write
  * command) and fires only when all of these hold:
  *   - AQE and its partition coalescing are on ([[SmallInput.coalescing]])
  *     and the plan is not streaming. A micro-batch runs with AQE off,
  *     and a foreachBatch frame is a `LogicalRDD`, so neither qualifies.
  *   - Every operator in the query is [[SmallInput.bounded]].
  *   - The pruned scan estimates, each the estimate of the
  *     Project/Filter chain over a leaf, add up to at most
  *     [[SmallInput.onePartitionBytes]]. A join's own estimate is the
  *     product of its inputs', so the inputs are summed instead.
  *   - No two of the inputs it would coalesce are the same plan
  *     ([[sharedInput]]): exchange reuse reads such an input once.
  *
  * EnsureRequirements still shuffles a join side whose logical estimate
  * exceeds `spark.sql.maxSinglePartitionBytes`, as over a chain of inner
  * joins; such a join keeps its exchanges.
  */
object SmallPlanSinglePartition extends Rule[LogicalPlan] {
  import SmallInput._

  private val shuffleHash = JoinHint(
    Some(HintInfo(Some(SHUFFLE_HASH))), Some(HintInfo(Some(SHUFFLE_HASH))))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!coalescing || plan.isStreaming) plan else topmost(plan)

  /** A write command's query, or the plan itself. Below an operator off
    * the `bounded` list it does not look: a range-partitioned sort over
    * an `explode` would re-run a coalesced input for its sample, where
    * an exchange would have been reused. */
  private def topmost(p: LogicalPlan): LogicalPlan = p match {
    case c: Command => c.mapChildren(topmost)
    case _ if bounded(p) && scanBytes(p) <= onePartitionBytes && !sharedInput(p) =>
      inOnePartition(p)
    case _ => p
  }

  /** The plans that would sit under an exchange: the inputs of
    * aggregates, windows, global sorts and equi-joins. */
  private def exchangeInputs(p: LogicalPlan): Seq[LogicalPlan] = p.collect {
    case a: Aggregate => Seq(a.child)
    case w: Window => Seq(w.child)
    case s @ Sort(_, true, child, _) => Seq(child)
    case j: Join if ExtractEquiJoinKeys.unapply(j).isDefined => Seq(j.left, j.right)
  }.flatten

  /** True when two exchange inputs are the same plan, as in a query that
    * joins or unions one frame with itself. Spark computes such an
    * exchange once and reuses it (`ReusedExchange`); behind `coalesce(1)`
    * each consumer would recompute the input and scan its tables again. */
  private def sharedInput(p: LogicalPlan): Boolean = {
    val inputs = exchangeInputs(p).map(_.canonicalized)
    inputs.distinct.size < inputs.size
  }

  /** The sum of the estimates of the Project/Filter chains over the
    * leaves. */
  private def scanBytes(p: LogicalPlan): BigInt =
    if (scanChain(p)) p.stats.sizeInBytes else p.children.map(scanBytes).sum

  private def scanChain(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => scanChain(c)
    case Filter(_, c) => scanChain(c)
    case _ => p.children.isEmpty
  }

  private def inOnePartition(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a: Aggregate => a.copy(child = single(a.child))
    case w: Window => w.copy(child = single(w.child))
    case s @ Sort(_, true, child, _) => s.copy(child = single(child))
    case j: Join if ExtractEquiJoinKeys.unapply(j).isDefined =>
      j.copy(left = single(j.left), right = single(j.right),
        hint = if (j.hint == JoinHint.NONE) shuffleHash else j.hint)
  }

  private def single(p: LogicalPlan): LogicalPlan =
    if (onePartition(p)) p else Repartition(1, shuffle = false, p)
}
