package graft.rules

import graft.GraftRule

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, EnsureRequirements}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Narrow multi-key hash joins whose key lists repeat one expression —
  * the JOB deep-join shape (`[movie_id₁..movie_id₅] = [t.id × 5]`, CBO's
  * transitive-equality residue): every probe builds, hashes and compares
  * a 5-int composite UnsafeRow key whose build side is ONE id repeated.
  *
  * `a₁=b ∧ a₂=b` ⇔ `a₁=b ∧ a₂=a₁` (any NULL fails both forms), so the
  * join keeps ONE key pair per distinct expression and the implied
  * equalities move to the side whose attributes differ, as a plain
  * filter:
  *  - stream side: rows failing `a₂=a₁` skip the probe entirely;
  *  - build side: the filter lands UNDER the broadcast, shrinking the
  *    built relation.
  * In JOB these equalities were already enforced by earlier joins of the
  * accumulated result, so the filters pass ~every row — the win is the
  * narrowed key (hash + compare 1 int instead of 5 per probe AND per
  * build row). Guide §3.1 (per-probe cost), §1.2 step 2.
  *
  * Physical query-stage-prep rule, inner broadcast joins only. When the
  * dedup touches the build side the existing BroadcastExchange is
  * peeled (its HashedRelationBroadcastMode carries the OLD key list) and
  * EnsureRequirements re-derives the correct one.
  *
  * Escape hatch: `spark.graft.disabled=DedupJoinKeys`.
  */
object DedupJoinKeys extends GraftRule[SparkPlan] {
  protected def rewrite(plan: SparkPlan): SparkPlan = {
    var changed = false
    val rewritten = plan.transformUp {
      case j: BroadcastHashJoinExec
          if j.joinType == Inner && !j.isNullAwareAntiJoin &&
            j.leftKeys.length > 1 &&
            j.leftKeys.forall(_.deterministic) &&
            j.rightKeys.forall(_.deterministic) =>
        val kept = ArrayBuffer.empty[(Expression, Expression)]
        val leftRes = ArrayBuffer.empty[Expression]
        val rightRes = ArrayBuffer.empty[Expression]
        j.leftKeys.zip(j.rightKeys).foreach { case (l, r) =>
          kept.find(_._1.semanticEquals(l)) match {
            case Some((_, kr)) => rightRes += EqualTo(r, kr)
            case None => kept.find(_._2.semanticEquals(r)) match {
              case Some((kl, _)) => leftRes += EqualTo(l, kl)
              case None => kept += (l -> r)
            }
          }
        }
        if (kept.length == j.leftKeys.length) j
        else {
          changed = true
          val buildLeft = j.buildSide == BuildLeft
          def withPreds(child: SparkPlan, preds: Seq[Expression]): SparkPlan =
            if (preds.isEmpty) child
            else FilterExec(preds.reduce(And(_, _)), child)
          // the build-side exchange's HashedRelationBroadcastMode hashes
          // the OLD key list — peel it (filter lands under the one
          // EnsureRequirements re-inserts with the deduped keys)
          def peeled(child: SparkPlan): SparkPlan = child match {
            case b: BroadcastExchangeExec => b.child
            case other => other
          }
          val newLeft =
            if (buildLeft) withPreds(peeled(j.left), leftRes.toSeq)
            else withPreds(j.left, leftRes.toSeq)
          val newRight =
            if (!buildLeft) withPreds(peeled(j.right), rightRes.toSeq)
            else withPreds(j.right, rightRes.toSeq)
          val j2 = j.copy(leftKeys = kept.map(_._1).toSeq,
            rightKeys = kept.map(_._2).toSeq, left = newLeft, right = newRight)
          j.logicalLink.foreach(j2.setLogicalLink)
          j2
        }
    }
    if (!changed) rewritten
    else new EnsureRequirements(true, None).apply(rewritten)
  }
}
