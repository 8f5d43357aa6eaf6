package graft.rules

import graft.GraftRule

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Statistics-proved partial-aggregation skip for the groups≈rows
  * regime (reference: DuckDB's adaptive aggregation abandons its local
  * hash phase when it observes no reduction —
  * physical_hash_aggregate.cpp's partition/skip heuristics; HyPer's
  * partial-agg bailout is the published form).
  *
  * Spark always plans `final ← key exchange ← partial`. When the group
  * count is close to the row count (ClickBench `GROUP BY UserID,
  * SearchPhrase`: 9.999M groups of 10M rows), the partial pass hashes
  * every row into a map that reduces nothing — a full extra pass over
  * the data, plus map spill pressure — before shuffling the same number
  * of rows anyway. A native engine detects this at run time; this
  * engine can often PROVE it at plan time from the warm cache's NDV
  * sketches (`graft.ndvLow` column metadata, an HLL-backed lower bound
  * attached by [[graft.Tables]]): for any single grouping column c,
  * groups ≥ ndv(c), so ndvLow(c) ≥ MinRatio × rowCount proves the
  * partial can reduce by at most 1/MinRatio.
  *
  * Rewrite: `final(keys) ← exchange(keyAttrs) ← partial(keys, child)`
  * becomes `complete(keys) ← exchange(keyExprs) ← child` — one hash
  * pass instead of two, same shuffled row count (the partial emitted
  * one row per input row anyway). The guards keep it sound:
  *  - the proof is about the FULL table, so the partial's child must be
  *    a row-preserving chain (project/transition nodes) over the cache
  *    scan — any Filter/Generate/join breaks the row-count premise;
  *  - grouping and aggregate expressions must be deterministic (they
  *    are evaluated on the reducer side instead of the map side);
  *  - modes are strictly Partial/Final (distinct rewrites plan
  *    PartialMerge levels and never match).
  *
  * At 100 TB the trade is identical: shuffled bytes are unchanged
  * (keys + narrow inputs either way), and the skipped work — a
  * no-reduction hash pass over every row of a fact table — scales with
  * the data. When stats DON'T prove high cardinality the rule declines
  * and the stock map-side combine stays, which is always the right
  * plan at low cardinality. `spark.graft.disabled=SinglePhaseAgg` disables
  * (A/B); `MinRatio` 0.5 = skip only when reduction is provably <2×.
  */
object SinglePhaseAgg extends GraftRule[SparkPlan] {
  val MinRatio: Double = 0.5

  private def strip(e: Expression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  /** Row-preserving chain from the partial down to the annotated cache
    * scan. Projections keep row counts; anything else (Filter, Expand,
    * Generate, joins) voids the full-table NDV premise.
    */
  private[rules] def rowPreservingScanChain(p: SparkPlan): Boolean = p match {
    case _: InMemoryTableScanExec => true
    case pr: ProjectExec => rowPreservingScanChain(pr.child)
    case c: ColumnarToRowExec => rowPreservingScanChain(c.child)
    case i: InputAdapter => rowPreservingScanChain(i.child)
    // AQE wraps the already-materialized cache scan in a
    // TableCacheQueryStage before prep rules run on the re-optimized plan
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      rowPreservingScanChain(q.plan)
    case _ => false
  }

  /** groups ≥ ndv(c) for any grouping column c — proved high-cardinality
    * when some column's HLL lower bound covers MinRatio of the table.
    */
  private[rules] def provedHighCardinality(groups: Seq[Expression]): Boolean =
    groups.map(strip).exists {
      case a: AttributeReference if a.metadata.contains("graft.ndvLow") &&
          a.metadata.contains("graft.rowCount") =>
        val rows = a.metadata.getLong("graft.rowCount")
        rows > 0 && a.metadata.getLong("graft.ndvLow") >= MinRatio * rows
      case _ => false
    }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    plan.transformUp {
      case fin @ HashAggregateExec(_, false, _, _, aggsF, aggAttrs, _, resultExprs,
            ShuffleExchangeExec(HashPartitioning(_, n),
              part @ HashAggregateExec(_, false, _, _, aggsP, _, _, _, gchild), _, _))
          if part.groupingExpressions.nonEmpty &&
            aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            fin.groupingExpressions.map(_.toAttribute.exprId) ==
              part.groupingExpressions.map(_.toAttribute.exprId) &&
            part.groupingExpressions.forall(_.deterministic) &&
            aggsF.forall(_.deterministic) &&
            rowPreservingScanChain(gchild) &&
            provedHighCardinality(part.groupingExpressions) =>
        val keyExprs = part.groupingExpressions.map(strip)
        val ex2 = ShuffleExchangeExec(HashPartitioning(keyExprs, n), gchild)
        val complete = HashAggregateExec(
          requiredChildDistributionExpressions = Some(keyExprs),
          isStreaming = false,
          numShufflePartitions = fin.numShufflePartitions,
          groupingExpressions = part.groupingExpressions,
          aggregateExpressions = aggsF.map(_.copy(mode = Complete)),
          aggregateAttributes = aggAttrs,
          initialInputBufferOffset = 0,
          resultExpressions = resultExprs,
          child = ex2)
        // cover the whole rewritten pair for AQE replan substitution
        // (same threading as PackedShuffleAgg)
        fin.logicalLink.foreach { link =>
          ex2.setLogicalLink(link)
          complete.setLogicalLink(link)
        }
        complete
    }
  }
}
