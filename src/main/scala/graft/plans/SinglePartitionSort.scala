package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small output in one partition instead of range-partitioning it.
  *
  * Every graft query ends in a total-order `orderBy` that exists for the
  * oracle's deterministic hash compare. Spark plans a global `Sort` as a
  * range exchange, and the exchange's `RangePartitioner` first runs a
  * sample job that re-executes the sort's whole child. When the child's
  * estimated size is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * the sampled bounds buy nothing (AQE would merge the range output toward
  * one partition anyway), so this rule rewrites the sort to
  * `Sort(global) ← Repartition(1, shuffle = false)`. `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies the sort's ordered
  * distribution: EnsureRequirements plans no exchange, and the child runs
  * once.
  *
  * The size comes from Catalyst's statistics, so the rule is injected
  * twice: as an optimizer rule it lowers sorts whose plan-time estimate is
  * already small (scan-rooted outputs), and as a runtime (AQE) optimizer
  * rule it lowers sorts above joins and aggregates once the stage below
  * has real shuffle statistics — without CBO a join's plan-time estimate
  * is the product of its inputs.
  *
  * Left alone:
  *  - a sort under a limit (directly or through one `Project`): Spark
  *    plans that shape, with or without an offset, as
  *    TakeOrderedAndProject, which has no sample job;
  *  - a sort whose input is already one partition;
  *  - streaming sorts.
  *
  * Sorts under write commands are rewritten like any other: the rule walks
  * the whole plan, not only its root.
  */
object SinglePartitionSort extends Rule[LogicalPlan] {

  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SinglePartitionSort)
    ext.injectRuntimeOptimizerRule(_ => SinglePartitionSort)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = lower(plan)

  private def lower(plan: LogicalPlan): LogicalPlan = plan match {
    case _: LocalLimit => plan.mapChildren(keepSort)
    case s: Sort if s.global && !s.isStreaming && !singlePartition(s.child) &&
        s.child.stats.sizeInBytes <= advisoryBytes =>
      s.copy(child = Repartition(1, shuffle = false, lower(s.child)))
    case _ => plan.mapChildren(lower)
  }

  /** The child of a `LocalLimit`: its sort (directly or under one
    * Project) is the TakeOrderedAndProject shape and stays as it is. */
  private def keepSort(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort => s.mapChildren(lower)
    case p @ Project(_, s: Sort) => p.copy(child = s.mapChildren(lower))
    case _ => lower(plan)
  }

  private def advisoryBytes: BigInt =
    BigInt(SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** Inputs that physically plan as one partition. */
  private def singlePartition(plan: LogicalPlan): Boolean = plan match {
    case r: Repartition => r.numPartitions == 1
    case r: RepartitionByExpression => r.numPartitions == 1
    case _: GlobalLimit => true
    case a: Aggregate => a.groupingExpressions.isEmpty
    case Project(_, child) => singlePartition(child)
    case Filter(_, child) => singlePartition(child)
    case _ => false
  }
}
