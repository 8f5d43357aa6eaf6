package graft.rules

import graft.{GraftConf, GraftRule}
import graft.plans.{DriverAgg, SortedRunAggExec}

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Complete
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** Replace a collapsed Complete-mode hash aggregate over RUN-clustered
  * input with the streaming [[SortedRunAggExec]].
  *
  * Matches when the child is sorted on a non-empty prefix of the
  * grouping columns (equal-contiguity is the only requirement, so sort
  * direction and null ordering are irrelevant), groups are whole per
  * partition (child partitioning on a subset of the grouping columns —
  * the property that let [[CollapsePartialAggregate]] elide the
  * exchange), at most ONE grouping column remains beyond the sorted
  * prefix and it widens losslessly to long, and every aggregate
  * compiles to a [[DriverAgg.layout]] slot. Runs in
  * `InsertCacheColumnarToRow` after the collapse (AQE per-stage and
  * non-AQE); idempotent — the replacement is a custom exec.
  */
object SortedRunAggRule extends GraftRule[SparkPlan] {

  /** Fuse a TakeOrderedAndProject above a direct-loop [[SortedRunAggExec]]
    * into its drain (see [[SortedRunAggExec.TopNSpec]]). Conditions:
    * every sort key reads off drain primitives (a prefix column, the run
    * key, or a long/double-valued aggregate slot BEFORE any result
    * rewriting — `c DESC` where `c = count(1)` qualifies, `round(sum)`
    * does not), and the keys cover ALL grouping columns so the order is
    * total and per-partition pruning to `limit` is exact. The parent
    * TakeOrderedAndProject stays for the cross-partition merge.
    */
  def fuseTopN(plan: SparkPlan): SparkPlan =
    if (!GraftConf.enabled(name) || !GraftConf.enabled("SortedRunAgg.topN")) plan
    else plan.transformUp {
      case t @ org.apache.spark.sql.execution.TakeOrderedAndProjectExec(
            limit, sortOrder, _, s: SortedRunAggExec, _)
          if s.topN.isEmpty && limit > 0 && limit <= 100000 &&
            (s.columnarChild || s.rowDirectEligible) =>
        topNSpecFor(limit, sortOrder, s) match {
          case Some(spec) => t.withNewChildren(Seq(s.copy(topN = Some(spec))))
          case None => t
        }
    }

  private def topNSpecFor(limit: Int,
      order: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
      s: SortedRunAggExec): Option[SortedRunAggExec.TopNSpec] = {
    import SortedRunAggExec._
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Descending, NullsFirst}
    val outIdx = s.output.map(_.exprId).zipWithIndex.toMap
    val runKeyId = s.runKey.collect { case a: Attribute => a.exprId }
    val srcs: Seq[Option[TopKeySrc]] = order.map { so =>
      so.child match {
        case a: Attribute => outIdx.get(a.exprId).flatMap { p =>
          val e = s.resultExprs(p) match {
            case al: Alias => al.child
            case x => x
          }
          e match {
            case ar: AttributeReference =>
              val pi = s.prefix.indexWhere(_.exprId == ar.exprId)
              if (pi >= 0) Some(PrefixTopKey(pi))
              else if (runKeyId.contains(ar.exprId) &&
                s.runKeyType != org.apache.spark.sql.types.StringType)
              // string run keys are INTERNED ids in the drain — id order
              // is not string order, so the fused heap must decline
              Some(RunTopKey)
              else {
                val j = s.aggAttrs.indexWhere(_.exprId == ar.exprId)
                if (j >= 0 && graft.plans.SlotKernel.sortable(s.slots(j))) Some(AggTopKey(j))
                else None
              }
            case _ => None
          }
        }
        case _ => None
      }
    }
    if (srcs.exists(_.isEmpty)) return None
    val got = srcs.map(_.get)
    val prefixCovered = s.prefix.indices.forall(i => got.contains(PrefixTopKey(i)))
    val keyCovered = s.runKey.isEmpty || got.contains(RunTopKey)
    if (!prefixCovered || !keyCovered) None
    else Some(TopNSpec(limit, got,
      order.map(_.direction == Descending),
      order.map(_.nullOrdering == NullsFirst)))
  }

  protected def rewrite(plan: SparkPlan): SparkPlan =
    plan.transformUp {
      case agg @ HashAggregateExec(_, false, _, groupExprs, aggs, aggAttrs, _,
            resultExprs, child)
          if aggs.forall(_.mode == Complete) && groupExprs.nonEmpty &&
            groupExprs.forall(_.isInstanceOf[Attribute]) =>
        val groupAttrs = groupExprs.map(_.toAttribute)
        val wholeGroups = child.outputPartitioning match {
          case SinglePartition => true
          case hp: HashPartitioning => hp.expressions.forall {
            case a: Attribute => groupAttrs.exists(_.exprId == a.exprId)
            case _ => false
          }
          case _ => false
        }
        if (!wholeGroups) agg
        else {
          val prefix = child.outputOrdering.map(_.child).takeWhile {
            case a: Attribute => groupAttrs.exists(_.exprId == a.exprId)
            case _ => false
          }.map(_.asInstanceOf[Attribute])
          val prefixIds = prefix.map(_.exprId).toSet
          val remainder = groupAttrs.filterNot(a => prefixIds.contains(a.exprId))
          if (prefix.isEmpty || remainder.size > 1 ||
            !remainder.forall(a => SortedRunAggExec.supportedKey(a.dataType) ||
              a.dataType == org.apache.spark.sql.types.StringType)) agg
          else scala.util.Try(DriverAgg.layout(aggs)).toOption.filter(_.flat) match {
            case Some(lay) =>
              val exec = SortedRunAggExec(prefix, remainder.headOption,
                remainder.headOption.map(_.dataType)
                  .getOrElse(org.apache.spark.sql.types.LongType),
                lay.inputs, lay.slots, lay.nL, lay.nD, lay.nF,
                lay.aggTypes, aggAttrs, resultExprs, agg.output, child,
                ansi = conf.ansiEnabled)
              // only rewrite when a DIRECT loop will engage: batch-direct
              // over a bare columnar scan, or direct-ordinal rows over a
              // deterministic Filter/Project chain above one (codegen
              // emits rows there). The projection-heavy generic row path
              // loses to the codegen'd hash aggregate (~1.5x at sf1) and
              // is never planned.
              def chainOverColumnar(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
                p match {
                  case org.apache.spark.sql.execution.ColumnarToRowExec(c) =>
                    c.supportsColumnar
                  case f: org.apache.spark.sql.execution.FilterExec =>
                    chainOverColumnar(f.child)
                  case pr: org.apache.spark.sql.execution.ProjectExec =>
                    chainOverColumnar(pr.child)
                  case c => c.supportsColumnar
                }
              val scan = child match {
                case org.apache.spark.sql.execution.ColumnarToRowExec(c) => c
                case c => c
              }
              if (scan.supportsColumnar && exec.columnarEligible(scan)) exec
              else if (exec.rowDirectEligible && chainOverColumnar(child)) exec
              else agg
            case None => agg
          }
        }
    }
}
