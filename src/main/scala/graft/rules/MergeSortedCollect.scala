package graft.rules

import graft.plans.MergeSortedCollectExec

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** A root ORDER BY collects through [[MergeSortedCollectExec]]: per-task
  * sorted runs merged on the driver, one job and no range-sampling pass.
  *
  * Matches only the PLAN ROOT `SortExec(order, global = true,
  * ShuffleExchangeExec(r: RangePartitioning, X))` whose exchange
  * EnsureRequirements inserted, and replaces it with
  * `MergeSortedCollectExec(order, r, X)`. Declines (plan unchanged):
  *  - a sort key holding a subquery;
  *  - anything above the sort (`ProjectExec`, `CollectLimitExec`, ...):
  *    the root is then not the sort;
  *  - a single-partition child: EnsureRequirements plants no range
  *    exchange, so the shape never matches;
  *  - an AQE re-optimization (a query stage below the sort): only the
  *    initial adaptive plan is rewritten. A re-planned root sort can come
  *    from AQE's EliminateLimits dropping a LIMIT on the strength of a
  *    stage's row count, and graft's radix/packed partials shuffle one
  *    record per state blob, not per group, so that count can be far
  *    below the real one. With the range exchange in place such a re-plan
  *    costs one more shuffle than the current plan and AQE rejects it;
  *    rewritten here it would cost the same and be adopted, limit lost.
  *
  * Registered LAST among the query-stage-prep rules (after
  * CachedBroadcastPrep, so it sees the plan PackedShuffleAgg and friends
  * left), and run last in `InsertCacheColumnarToRow` for non-AQE.
  */
object MergeSortedCollect extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case s @ SortExec(order, true,
          ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if !order.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
          !child.exists(_.isInstanceOf[QueryStageExec]) =>
      val merged = MergeSortedCollectExec(order, r, child)
      s.logicalLink.foreach(merged.setLogicalLink)
      merged
    case other => other
  }
}
