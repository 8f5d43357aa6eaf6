package graft.rules

import graft.GraftRule

import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}

/** Collapse an ADJACENT partial→final hash-aggregate pair into one
  * Complete-mode aggregate.
  *
  * Spark always plans grouped aggregation as partial→exchange→final; when
  * the child's partitioning already satisfies the grouping distribution
  * (graft's clustered columnar cache, bucketed tables, a reused earlier
  * shuffle) EnsureRequirements drops the exchange but keeps BOTH
  * aggregates back-to-back in one stage. For low-cardinality keys the
  * second pass is noise; for high-cardinality keys (ClickBench-style
  * `GROUP BY id`, groups ≈ rows) it doubles the dominant cost — every row
  * is hashed into a huge map twice. A single Complete-mode aggregate is
  * the plan a native single-pass hash aggregate runs on pre-partitioned
  * storage (reference: physical_hash_aggregate.cpp's non-partitioned
  * fast path when the input is already radix-partitioned).
  *
  * Safety: adjacency IS the proof the collapse is distribution-correct —
  * EnsureRequirements would have inserted an exchange otherwise. The
  * rewrite keeps the final's aggregate attributes and result projection
  * (exprIds intact), takes the partial's grouping expressions (the final
  * groups by their output attributes), and rebinds the aggregate
  * functions to the raw input by switching mode to Complete with buffer
  * offset 0. Distinct rewrites plan PartialMerge modes and never match.
  * Runs post-EnsureRequirements (via [[VectorizedCacheRead]]) so it sees
  * the exchange-free shape in both AQE and non-AQE sessions; idempotent —
  * the collapsed node is Complete-mode and cannot rematch.
  */
object CollapsePartialAggregate extends GraftRule[SparkPlan] {
  protected def rewrite(plan: SparkPlan): SparkPlan =
    plan.transformUp {
      case fin @ HashAggregateExec(_, false, _, gF, aggsF, _, _, _,
            part @ HashAggregateExec(_, false, _, gP, aggsP, _, _, _, grandchild))
          if aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            gF.map(_.toAttribute.exprId) == gP.map(_.toAttribute.exprId) =>
        fin.copy(
          groupingExpressions = gP,
          // Complete expressions derive from the PARTIAL side: FILTER
          // clauses live only there (the final's filter is None because
          // partials already applied it — dropping them would aggregate
          // unfiltered input). resultIds match the final's (guarded
          // above), so the final's aggregateAttributes/resultExpressions
          // still bind.
          aggregateExpressions = aggsP.map(_.copy(mode = Complete)),
          initialInputBufferOffset = 0,
          child = grandchild)
      // same shape for TypedImperativeAggregate plans (bit_chunk_count,
      // hll_union — the fused-distinct bucket merges): an adjacent
      // partial→final ObjectHashAggregate pair deserializes and rebuilds
      // every per-bucket object buffer twice per stage
      case fin @ ObjectHashAggregateExec(_, false, _, gF, aggsF, _, _, _,
            part @ ObjectHashAggregateExec(_, false, _, gP, aggsP, _, _, _, grandchild))
          if aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            gF.map(_.toAttribute.exprId) == gP.map(_.toAttribute.exprId) =>
        fin.copy(
          groupingExpressions = gP,
          aggregateExpressions = aggsP.map(_.copy(mode = Complete)),
          initialInputBufferOffset = 0,
          child = grandchild)
    }
}
