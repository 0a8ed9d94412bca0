package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, RepartitionOperation, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global sort of a small input runs in one task.
  *
  * Spark plans `Sort(order, global = true, child)` as a range exchange,
  * and building its `RangePartitioner` runs a sampling job that executes
  * the sort's whole input stage a second time. At small sizes AQE then
  * merges the range partitions back into one, so a small ordered query
  * pays three jobs (sample, map, result) and two passes over its input
  * for a sort whose output is one partition anyway. This rule rewrites
  * the sort to `Sort(order, true, Repartition(1, shuffle = false,
  * child))` when Catalyst's size estimate of `child` is at most
  * `spark.sql.autoBroadcastJoinThreshold`. The plan becomes
  * `CoalesceExec(1)` under the sort; its `SinglePartition` output
  * satisfies the sort's `OrderedDistribution`, so no exchange and no
  * sampling job are planned: one job, one pass.
  *
  * The threshold is the broadcast threshold, the size Spark already
  * ships whole to every task; 0 or below switches the rule off (as
  * [[graft.operators.Dedup.shared]] does while it plans checkpointed
  * subtrees). The coalesce costs no parallelism at that size: a parquet
  * input of at most 10 MB already plans as 1-3 scan splits, files under
  * `spark.sql.files.openCostInBytes` plan as one split, and AQE already
  * coalesces a small post-shuffle stage into one partition.
  *
  * Catalyst's estimate is an upper bound through filter, project,
  * aggregate and join. Through a `Generate` (explode) it is the
  * generator's input size, not its output: the rule takes the estimate
  * as it is there, so a small input exploded into many rows still sorts
  * in one task.
  *
  * Left untouched: streaming plans; a sort directly under `GlobalLimit`,
  * `LocalLimit`, `Offset` or `Tail`, or under a projection of one
  * (Spark plans those as `TakeOrderedAndProject` or `CollectLimit`); a
  * sort whose child is already a repartition; and any sort whose
  * estimate is unknown (an RDD scan reports
  * `spark.sql.defaultSizeInBytes`).
  */
object SmallSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = conf.autoBroadcastJoinThreshold
    if (plan.isStreaming || limit <= 0) plan else rewrite(plan, limit)
  }

  private def rewrite(plan: LogicalPlan, limit: Long): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => plan.mapChildren(keep(_, limit))
    case s @ Sort(_, true, child, _) if !child.isInstanceOf[RepartitionOperation] && {
          val size = child.stats.sizeInBytes
          size <= limit && size < conf.defaultSizeInBytes
        } =>
      s.copy(child = Repartition(1, shuffle = false, rewrite(child, limit)))
    case _ => plan.mapChildren(rewrite(_, limit))
  }

  /** [[rewrite]] below a limit: the sort it takes stays as it is. */
  private def keep(plan: LogicalPlan, limit: Long): LogicalPlan = plan match {
    case s: Sort => s.mapChildren(rewrite(_, limit))
    case p: Project => p.mapChildren(keep(_, limit))
    case _ => rewrite(plan, limit)
  }

  /** Adds the rule to `spark`'s extra optimizations unless it is there.
    * Every graft root calls this ([[Tables.read]], [[Source.stamp]]);
    * CurationStream lanes read concurrently, hence the lock. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(this)) exp.synchronized {
      if (!exp.extraOptimizations.contains(this))
        exp.extraOptimizations = exp.extraOptimizations :+ this
    }
  }
}
