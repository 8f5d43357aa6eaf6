package graft.rules

import graft.GraftRule
import graft.functions.FastPercentileAgg

import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Rewrite exact `percentile(col, p[, 1])` with foldable percentage(s)
  * and unit frequency to the flat-array kernel
  * ([[FastPercentileAgg]]): Spark's Percentile aggregates through an
  * OpenHashMap[boxed value → count] — one boxing + hash probe per row
  * and a boxed sort per group — which measured 10× DuckDB's
  * materialize-and-select on the h2oai median shape (h2o_g06,
  * PERF.md r13). Non-literal percentages, frequency ≠ 1, or interval
  * types keep Spark's expression.
  */
object FastPercentileRule extends GraftRule[LogicalPlan] {
  private def numericChild(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Foldable percentage literal → (values, isArrayForm). */
  private def percentages(e: Expression): Option[(Seq[Double], Boolean)] = e match {
    case Literal(p: Double, DoubleType) => Some((Seq(p), false))
    case Literal(null, _) => None
    case Literal(arr: ArrayData, ArrayType(DoubleType, _)) =>
      Some((arr.toDoubleArray().toSeq, true))
    case CreateArray(children, _) if children.forall {
          case Literal(_: Double, DoubleType) => true; case _ => false } =>
      Some((children.map(_.asInstanceOf[Literal].value.asInstanceOf[Double]), true))
    case _ => None
  }

  protected def rewrite(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ae @ AggregateExpression(
            Percentile(child, pct, Literal(1L, LongType), _, _, false), _, _, _, _)
          if numericChild(child) =>
        percentages(pct) match {
          case Some((ps, arrayForm)) if ps.forall(v => v >= 0.0 && v <= 1.0) =>
            ae.copy(aggregateFunction = FastPercentileAgg(child, ps, arrayForm))
          case _ => ae
        }
    }
}
