package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** A bounded result sorts on one partition. A global `orderBy` plans a
  * `RangePartitioning` exchange, and its `RangePartitioner` runs a
  * sampling job that computes the sort's input once more before the
  * shuffle computes it again. When the input of the plan's root sort is
  * no larger than `spark.sql.autoBroadcastJoinThreshold` (the bound Spark
  * already trusts to ship a whole relation to every executor), this rule
  * turns that exchange into a `SinglePartition` one: one partition is
  * sorted as a whole, so the sampling job is gone and the rows come out
  * in the same order. A threshold `<= 0` never fires, as in Spark's own
  * join selection.
  *
  * It runs as an AQE query-stage preparation rule, after
  * `EnsureRequirements`, on the initial plan and again on each re-plan:
  * the size is the logical sort input's estimate, from file sizes before
  * execution and from the materialized stages' runtime sizes after. It
  * walks down from the root only through nodes that keep their child's
  * rows and order (projections, filters, the file-write node) and stops
  * at the first global sort, so an inner sort, whose range partitioning
  * a parent operator may rely on, is never touched.
  */
object BoundedSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case p @ (_: ProjectExec | _: FilterExec | _: WriteFilesExec) =>
      p.withNewChildren(Seq(apply(p.children.head)))
    case sort @ SortExec(_, true,
        ex @ ShuffleExchangeExec(RangePartitioning(_, n), _, ENSURE_REQUIREMENTS, _), _)
        if n > 1 && bounded(sort) =>
      val single = ex.copy(outputPartitioning = SinglePartition)
      single.copyTagsFrom(ex)
      sort.withNewChildren(Seq(single))
    case other => other
  }

  private def bounded(sort: SortExec): Boolean = {
    val limit = conf.autoBroadcastJoinThreshold
    limit > 0 && sort.logicalLink.flatMap(_.children.headOption)
      .exists(_.stats.sizeInBytes <= limit)
  }
}
