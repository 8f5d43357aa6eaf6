package graft.rules

import graft.GraftRule
import graft.plans.{SessionCountExec, StreamingWindowExec}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** Collapse the lag-gap sessionization pipeline —
  * `count(*) per entity of (lag IS NULL OR ts - lag > gap)` — into
  * [[SessionCountExec]]'s single primitive loop.
  *
  * Matches a Complete-mode `HashAggregate(keys=[p], count(1))` over
  * (Project?) → Filter(gap predicate) → StreamingWindow([lag(ts) over
  * (PARTITION BY p ORDER BY ts, ...)]) where
  *  - the filter is `(isnull(prev) OR unix_micros(ts) - unix_micros(prev)
  *    > gap) [<=> true]` with `prev` the lag output and `ts` the window's
  *    leading order column (also matched: bare long/int ts subtraction),
  *  - entity groups are whole per partition (the window's child is hash
  *    partitioned on a subset of [p] — the same property that let the
  *    aggregate collapse to Complete mode without an exchange), and
  *  - the aggregate's result expressions are pass-through (attributes or
  *    direct aliases of the group key and the count).
  * Tiebreak order columns beyond ts don't affect the count (equal-ts
  * neighbors have gap 0) and are accepted. Runs in
  * `InsertCacheColumnarToRow` after the streaming-window rewrite.
  * `spark.graft.disabled=SessionCountRule` for A/B + differential specs.
  */
object SessionCountRule extends GraftRule[SparkPlan] {
  private def countStar(a: AggregateExpression): Boolean = a.aggregateFunction match {
    case Count(Seq(Literal(_, _))) => a.mode == Complete && !a.isDistinct
    case _ => false
  }

  private def longish(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** The gap predicate: Or(IsNull(prev), micros(ts) - micros(prev) > L),
    * optionally wrapped in `<=> true`. Returns the gap literal.
    */
  private def gapOf(pred: Expression, prev: Attribute, ts: Attribute): Option[Long] = {
    def micros(e: Expression, of: Attribute): Boolean = e match {
      case UnixMicros(a: Attribute) => a.exprId == of.exprId
      case a: Attribute => a.exprId == of.exprId // already a long column
      case _ => false
    }
    val core = pred match {
      case EqualNullSafe(c, Literal(true, org.apache.spark.sql.types.BooleanType)) => c
      case EqualNullSafe(Literal(true, org.apache.spark.sql.types.BooleanType), c) => c
      case c => c
    }
    // A bare-attribute subtraction in the unfused plan evaluates in the
    // column's own width: under ANSI it raises on overflow, and for
    // IntegerType under non-ANSI it WRAPS at 2^31 — while the fused loop
    // always computes the exact 64-bit difference (SessionCount widens
    // via getInt). Decline the fuse whenever bare attributes could
    // diverge: any bare attribute under ANSI, and IntegerType bare
    // attributes under every eval mode. unix_micros outputs are bounded
    // (|v| < 2^62) long expressions, so that arm stays safe.
    def ansiSafe(l: Expression, r: Expression, ctx: NumericEvalContext): Boolean = {
      val bare = Seq(l, r).filter(_.isInstanceOf[Attribute])
      bare.isEmpty ||
        (ctx.evalMode != EvalMode.ANSI &&
          bare.forall(_.dataType != org.apache.spark.sql.types.IntegerType))
    }
    core match {
      case Or(IsNull(a: Attribute), GreaterThan(Subtract(l, r, mode), Literal(g: Long, _)))
          if a.exprId == prev.exprId && micros(l, ts) && micros(r, prev) &&
            ansiSafe(l, r, mode) => Some(g)
      case Or(IsNull(a: Attribute), GreaterThan(Subtract(l, r, mode), Literal(g: Int, _)))
          if a.exprId == prev.exprId && micros(l, ts) && micros(r, prev) &&
            ansiSafe(l, r, mode) => Some(g.toLong)
      case _ => None
    }
  }

  protected def rewrite(plan: SparkPlan): SparkPlan =
    plan.transformUp {
      case agg @ HashAggregateExec(_, false, _, Seq(p: Attribute), Seq(cnt), aggAttrs, _,
            resultExprs, aggChild) if countStar(cnt) =>
        val inner = aggChild match {
          case ProjectExec(list, f: FilterExec)
              if list.forall(_.isInstanceOf[Attribute]) => Some(f)
          case f: FilterExec => Some(f)
          case _ => None
        }
        val fused = inner.flatMap { f =>
          f.child match {
            case sw: StreamingWindowExec if sw.windowExpression.length == 1 &&
                sw.partitionSpec.length == 1 &&
                sw.partitionSpec.head.semanticEquals(p) && longish(p.dataType) =>
              sw.windowExpression.head match {
                case al @ Alias(WindowExpression(
                      Lag(ts: Attribute, Literal(off, _), Literal(null, _), false), _), _)
                    if math.abs(off.asInstanceOf[Int]) == 1 &&
                      sw.orderSpec.headOption.exists(_.child.semanticEquals(ts)) &&
                      longish(ts.dataType) =>
                  val wholeGroups = sw.child.outputPartitioning match {
                    case SinglePartition => true
                    case hp: HashPartitioning => hp.expressions.forall {
                      case a: Attribute => a.exprId == p.exprId
                      case _ => false
                    }
                    case _ => false
                  }
                  val passThrough = resultExprs.length == 2 && {
                    def refOf(e: NamedExpression): Option[ExprId] = e match {
                      case a: Attribute => Some(a.exprId)
                      case Alias(a: Attribute, _) => Some(a.exprId)
                      case _ => None
                    }
                    refOf(resultExprs.head).contains(p.exprId) &&
                      refOf(resultExprs(1)).contains(aggAttrs.head.exprId)
                  }
                  if (!wholeGroups || !passThrough) None
                  else gapOf(f.condition, al.toAttribute, ts).map { gap =>
                    SessionCountExec(p, ts, gap, agg.output, sw.child)
                  }
                case _ => None
              }
            case _ => None
          }
        }
        fused.getOrElse(agg)
    }
}
