package graft.rules

import graft.GraftRule
import graft.plans.{PartialTopNExec, SortedPrefixLimitExec}

import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Push a top-N through a partial aggregate when the ORDER BY keys are
  * grouping columns — `GROUP BY k ... ORDER BY k LIMIT n` ships one row
  * per (partition, group) through the exchange in Spark's plan even
  * though at most `n` groups can be emitted. The h2oai id-grouped shapes
  * (`GROUP BY l_partkey ORDER BY l_partkey LIMIT 200` over groups ≈ rows
  * input) pay the whole aggregate exchange for a 200-row answer.
  *
  * Soundness: extend the sort order with the REMAINING grouping columns
  * (ascending) — a total order T on groups, and a strictly refined but
  * still valid answer ordering for the original ORDER BY-prefix query.
  * Each partition keeps its top-`limit` group fragments by T: a dropped
  * fragment's group has `limit` distinct groups strictly T-before it in
  * that partition alone, so it can never reach the global top-`limit`
  * by T — and the rewritten TakeOrderedAndProject sorts by T, so a
  * partially-merged group is never emitted. Ties cannot split a group
  * across the boundary because T contains the full grouping key.
  *
  * Two arms here, registered before [[PackedShuffleAgg]] in the
  * query-stage-prep list (and chained before it in
  * `InsertCacheColumnarToRow` for non-AQE) so they see Spark's pairs:
  *  - generic Final ← exchange ← Partial HashAggregate: insert
  *    [[PartialTopNExec]] under the exchange and refine the
  *    TakeOrderedAndProject's sort with the grouping-key tie-break —
  *    except for the one-long-key `ORDER BY k LIMIT n` pairs packed
  *    claims with its own key prune ([[PackedShuffleAgg.keyTopN]]: key
  *    order = group order, null group never pruned, no plan-shape
  *    change beyond the partial's prune and a narrow exchange);
  *  - sorted input: a collapsed Complete-mode aggregate over clustered
  *    storage cuts its input at the limit-th prefix value.
  *
  * The `limit` valve bounds per-task retained state; offsets ride along
  * because TakeOrderedAndProjectExec's `limit` already includes them
  * (it takes `limit` rows, then drops `offset`).
  */
object TopNThroughAgg extends GraftRule[SparkPlan] {
  /** Per-task retained rows/keys bound — above this the exchange saving
    * no longer outweighs partial-side selection state.
    */
  val MaxLimit: Int = 1 << 16

  /** The result expression producing output attribute `a`, stripped to
    * its underlying attribute when it is a bare or aliased column.
    */
  private[rules] def underlying(resultExprs: Seq[NamedExpression], a: Attribute): Option[Attribute] =
    resultExprs.collectFirst {
      case al: Alias if al.toAttribute.exprId == a.exprId => al.child
      case at: Attribute if at.exprId == a.exprId => at
    }.collect { case u: Attribute => u }

  /** `g` (a grouping attribute) re-expressed over the final aggregate's
    * OUTPUT, for the refined TakeOrderedAndProject sort.
    */
  private def asOutput(resultExprs: Seq[NamedExpression], g: Attribute): Option[Attribute] =
    resultExprs.collectFirst {
      case at: Attribute if at.exprId == g.exprId => at
      case al: Alias if al.child.isInstanceOf[Attribute] &&
          al.child.asInstanceOf[Attribute].exprId == g.exprId => al.toAttribute
    }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    plan.transformUp {
      // sorted-input arm: a collapsed Complete-mode aggregate over
      // clustered+sorted storage (graft's columnar cache) — cut the
      // INPUT at the limit-th distinct value of the longest common
      // prefix of (ORDER BY, child ordering), before any aggregation.
      // Requires whole groups per partition (child partitioning on a
      // subset of the grouping columns — the same property that let the
      // aggregate collapse) and grouping columns that are plain child
      // attributes. No sort refinement needed: the cut keeps whole
      // prefix runs, so tying groups never split across the boundary.
      case t @ TakeOrderedAndProjectExec(limit, sortOrder, _,
            agg @ HashAggregateExec(_, false, _, groupExprs, aggs, _, _, resultExprs,
              aggChild), _)
          if limit > 0 && limit <= MaxLimit &&
            aggs.forall(_.mode == Complete) && groupExprs.nonEmpty &&
            !aggChild.isInstanceOf[SortedPrefixLimitExec] &&
            // an empty aggregate list (DISTINCT) makes the mode guard
            // vacuous on BOTH arms — an exchange below means this is the
            // final of a partial/final pair, which belongs to the
            // generic arm, never a collapsed Complete aggregate
            !aggChild.isInstanceOf[ShuffleExchangeExec] &&
            sortOrder.nonEmpty =>
        val groupAttrs = groupExprs.collect { case a: Attribute => a }
        val wholeGroups = aggChild.outputPartitioning match {
          case SinglePartition => true
          case hp: HashPartitioning =>
            groupExprs.size == groupAttrs.size &&
              hp.expressions.forall {
                case a: Attribute => groupAttrs.exists(_.exprId == a.exprId)
                case _ => false
              }
          case _ => false
        }
        if (!wholeGroups) t
        else {
          // longest common prefix of the query order and the child's
          // physical ordering, restricted to grouping attributes
          val childOrd = aggChild.outputOrdering
          val prefix = sortOrder.zipWithIndex.takeWhile { case (so, i) =>
            i < childOrd.size && (so.child match {
              case a: Attribute =>
                underlying(resultExprs, a).exists { u =>
                  groupAttrs.exists(_.exprId == u.exprId) &&
                    (childOrd(i).child match {
                      case ca: Attribute => ca.exprId == u.exprId &&
                        childOrd(i).direction == so.direction &&
                        childOrd(i).nullOrdering == so.nullOrdering
                      case _ => false
                    })
                }
              case _ => false
            })
          }.map { case (so, i) =>
            childOrd(i).child.asInstanceOf[Attribute]
          }
          if (prefix.isEmpty) t
          else {
            val cut = SortedPrefixLimitExec(limit, prefix, aggChild)
            aggChild.logicalLink.foreach(cut.setLogicalLink)
            val agg2 = agg.withNewChildren(Seq(cut))
            agg.logicalLink.foreach(agg2.setLogicalLink)
            t.withNewChildren(Seq(agg2))
          }
        }

      // generic partial/final pair over any grouping width
      case t @ TakeOrderedAndProjectExec(limit, sortOrder, _,
            fin @ HashAggregateExec(_, false, _, groupExprs, aggsF, _, _, resultExprs,
              ex @ ShuffleExchangeExec(_,
                part @ HashAggregateExec(_, false, _, gP, aggsP, _, _, _, _), _, _)), _)
          if limit > 0 && limit <= MaxLimit &&
            aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            groupExprs.nonEmpty &&
            gP.map(_.toAttribute.exprId).toSet == groupExprs.map(_.toAttribute.exprId).toSet &&
            PackedShuffleAgg.keyTopN(t).isEmpty =>
        val groupAttrs = groupExprs.map(_.toAttribute)
        val mapped = sortOrder.map { so =>
          so.child match {
            case a: Attribute =>
              underlying(resultExprs, a)
                .filter(u => groupAttrs.exists(_.exprId == u.exprId))
                .map(u => (so, u))
            case _ => None
          }
        }
        if (mapped.exists(_.isEmpty)) t
        else {
          val pairs = mapped.flatten
          val covered = pairs.map(_._2.exprId).toSet
          val remaining = groupAttrs.filterNot(a => covered.contains(a.exprId))
          val remainingOut = remaining.map(g => asOutput(resultExprs, g))
          if (remainingOut.exists(_.isEmpty)) t
          else {
            // total order on groups, over the PARTIAL aggregate's output
            val partialOrder =
              pairs.map { case (so, u) => SortOrder(u, so.direction, so.nullOrdering, Seq.empty) } ++
                remaining.map(a => SortOrder(a, Ascending))
            if (!partialOrder.forall(_.references.subsetOf(part.outputSet))) t
            else {
              val prunedChild = PartialTopNExec(limit, partialOrder, part)
              part.logicalLink.foreach(prunedChild.setLogicalLink)
              // ≤ limit rows per map task make a wide exchange pure
              // overhead (the same narrowing as packed's key prune)
              val ex2 = (ex.outputPartitioning match {
                case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
                    if hp.numPartitions > 4 =>
                  ex.copy(outputPartitioning = hp.copy(numPartitions = 4),
                    child = prunedChild)
                case _ => ex.withNewChildren(Seq(prunedChild))
              }).asInstanceOf[ShuffleExchangeExec]
              ex.logicalLink.foreach(ex2.setLogicalLink)
              val fin2 = fin.withNewChildren(Seq(ex2))
              fin.logicalLink.foreach(fin2.setLogicalLink)
              val refined = sortOrder ++ remainingOut.flatten.map(a => SortOrder(a, Ascending))
              t.copy(sortOrder = refined, child = fin2)
            }
          }
        }
    }
  }
}
