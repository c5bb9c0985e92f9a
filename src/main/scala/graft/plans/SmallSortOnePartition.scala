package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Generate, GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Injected AQE runtime optimizer rule ([[graft.GraftExtensions]]): a
  * global sort whose measured input AQE's partition coalescer would pack
  * into one partition anyway sorts in a single partition instead of
  * range-partitioning.
  *
  * A global sort plans a range exchange, and a range exchange first runs
  * a sampling job that recomputes the whole stage below it to pick its
  * bounds. When AQE would then coalesce that exchange to one partition,
  * one `SinglePartition` shuffle satisfies the sort's
  * `OrderedDistribution` with the same single task, no sampling job, and
  * the same shuffle count.
  *
  * The bound is the coalescer's own. With
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst` (Spark's
  * default, kept by [[graft.GraftSession]]) AQE splits an input larger
  * than `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default) across the default parallelism, so that is the bound; without
  * it, the larger of that size and
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. With coalescing off
  * the rule does not fire.
  *
  * The stages below the sort are measured: the rule fires only when every
  * leaf of its input is a materialized query stage, so a sort over a raw
  * scan keeps its range exchange. The operators between the stages and
  * the sort are sized by Spark's estimate, the one AQE also uses to pick
  * broadcast joins; it assumes a unary operator emits no more rows than it
  * reads, so a sort over a `Generate` (`explode` and kin, which multiply
  * rows) keeps its range exchange too. A sort under a limit is left alone,
  * so `orderBy(...).limit(k)` still plans `TakeOrderedAndProject`. The
  * rewrite is idempotent across AQE's re-optimizations: a sort already
  * over a one-partition repartition, or over the query stage that
  * repartition became, is not rewritten again.
  */
object SmallSortOnePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, underLimit = false)

  private def rewrite(plan: LogicalPlan, underLimit: Boolean): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if !underLimit && small(child) =>
      s.copy(child = Repartition(1, shuffle = true, child))
    // the shapes Spark's SpecialLimits strategy turns into TakeOrderedAndProject
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
      plan.mapChildren(rewrite(_, underLimit = true))
    case _: Project => plan.mapChildren(rewrite(_, underLimit))
    case _ => plan.mapChildren(rewrite(_, underLimit = false))
  }

  private def small(child: LogicalPlan): Boolean = {
    val onePartition = child match {
      case Repartition(1, true, _) => true
      case LogicalQueryStage(Repartition(1, true, _), _) => true
      case _ => false
    }
    !onePartition &&
      conf.coalesceShufflePartitionsEnabled &&
      child.collectLeaves().forall {
        case q: LogicalQueryStage => q.isMaterialized
        case _ => false
      } &&
      child.find(_.isInstanceOf[Generate]).isEmpty &&
      child.stats.sizeInBytes <= onePartitionBytes
  }

  /** The largest shuffle input AQE's coalescer packs into one partition. */
  private def onePartitionBytes: Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
    else minSize max conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }
}
