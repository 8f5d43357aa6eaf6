package graft.rules

import graft.GraftRule
import graft.plans.StringBcastJoinExec
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IsNotNull}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashedRelationBroadcastMode}
import org.apache.spark.sql.types.StringType

/** Route a single-string-key broadcast INNER join whose streamed side
  * is a columnar-capable scan into [[StringBcastJoinExec]] — the
  * dictionary/in-place-bytes probe (see its scaladoc). The build side's
  * HashedRelation exchange is replaced by an identity broadcast of the
  * raw rows (the exec builds its own flat byte-keyed table).
  *
  * A `Filter IsNotNull(probeKey)` directly under the join (planted by
  * null-filter inference for every inner equi-join) folds away — the
  * probe skips NULL keys itself, and removing it exposes the columnar
  * scan the batch probe needs.
  *
  * Escape hatch: `spark.graft.disabled=StringBcastJoinRule`.
  */
object StringBcastJoinRule extends GraftRule[SparkPlan] {
  /** The streamed side as a columnar plan: peel a redundant
    * IsNotNull(key) filter and/or a ColumnarToRow transition.
    */
  private def columnarStreamed(p: SparkPlan, keyExprId: org.apache.spark.sql.catalyst.expressions.ExprId): Option[SparkPlan] = {
    def strip(p0: SparkPlan): SparkPlan = p0 match {
      case FilterExec(IsNotNull(a: AttributeReference), c)
          if a.exprId == keyExprId => strip(c)
      case ColumnarToRowExec(c) => strip(c)
      case other => other
    }
    val s = strip(p)
    if (s.supportsColumnar) Some(s) else None
  }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    plan.transformUp {
      case j @ BroadcastHashJoinExec(Seq(lk: AttributeReference),
          Seq(rk: AttributeReference), Inner, BuildRight, None, streamed,
          BroadcastExchangeExec(_: HashedRelationBroadcastMode, buildChild), false)
          if lk.dataType == StringType && rk.dataType == StringType =>
        columnarStreamed(streamed, lk.exprId) match {
          case Some(scan)
              if scan.output.exists(_.exprId == lk.exprId) &&
                buildChild.output.exists(_.exprId == rk.exprId) &&
                // fold-away must not drop OTHER output columns: the
                // streamed attrs the join exposes must all come from scan
                j.left.output.forall(a => scan.output.exists(_.exprId == a.exprId)) =>
            StringBcastJoinExec(
              scan.output.indexWhere(_.exprId == lk.exprId),
              buildChild.output.indexWhere(_.exprId == rk.exprId),
              scan,
              BroadcastExchangeExec(
                org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode,
                buildChild))
          case _ => j
        }
    }
  }
}
