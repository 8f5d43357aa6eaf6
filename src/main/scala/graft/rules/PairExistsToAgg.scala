package graft.rules

import graft.{GraftConf, GraftRule}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max, Min}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._

/** Self-join pair-existence → grouped min/max aggregate, inside set-wise
  * consumed subqueries (TPC-DS q95's `ws_wh` CTE class).
  *
  * The shape:
  * {{{
  *   ... x IN (SELECT t1.k FROM t t1, t t2
  *             WHERE t1.k = t2.k AND t1.w <> t2.w)
  * }}}
  * asks only whether SOME pair of rows of the SAME relation shares the
  * key and differs in `w` — but stock planning scans and shuffles `t`
  * twice and materializes every matching pair (quadratic per hot key)
  * just to feed a semi join that immediately re-deduplicates. A pair
  * with `w1 <> w2` (both necessarily non-NULL) exists in a key group
  * iff the group holds ≥ 2 distinct non-NULL `w` values iff
  * `min(w) <> max(w)`, so the subquery is SET-equal to
  * {{{
  *   SELECT k FROM t GROUP BY k HAVING min(w) <> max(w)
  * }}}
  * — one scan, one shuffle, no pair blowup (guide §2.4 remove shuffles
  * outright / §3.3 avoid exploding joins; the reference plans q95's CTE
  * through its aggregate-based distinct machinery rather than expanding
  * pairs).
  *
  * Soundness:
  *  - **Set-wise consumption.** The rewrite changes row multiplicity
  *    (one row per surviving key instead of one per pair), so it only
  *    fires inside [[ListQuery]]/[[Exists]] subquery plans, descending
  *    through Project/Filter/Inner-Join nodes only — for these, the
  *    output SET is a function of the input SETS, so deduplicating any
  *    subtree preserves the set the IN/EXISTS actually consumes (q95's
  *    second subquery joins the CTE with web_returns before projecting:
  *    the dedup is below an inner join, still set-safe).
  *  - **Pair ⇔ min≠max.** `w1 <> w2` is NULL-rejecting on both sides,
  *    so pairs exist iff ≥ 2 distinct non-NULL `w` in the group;
  *    min/max ignore NULLs; an all-NULL group yields NULL <> NULL =
  *    NULL and the HAVING filter drops it. Restricted to non-floating
  *    orderable atomic types (float NaN/-0.0 ordering vs equality
  *    diverge).
  *  - **No NULL keys appear.** The equi-join emits no NULL-key rows; the
  *    rewrite adds IsNotNull on every group key (an IN list must not
  *    gain a NULL — it would flip non-matching rows from false to NULL).
  *  - **Output columns.** Every projected column must be one of the
  *    equi-join keys (identical on both instances), so re-pointing P2
  *    references at P1's attributes under the original exprIds is exact.
  *
  * Match requirements: both join children canonicalize equal (true
  * self-join), every conjunct is a positionally-corresponding column
  * pair (EqualTo, or exactly one Not(EqualTo)), at least one equi pair,
  * and the inequality column is not also an equi key.
  *
  * Escape hatch: `spark.graft.disabled=PairExistsToAgg`.
  */
object PairExistsToAgg extends GraftRule[LogicalPlan] {
  private def orderableNonFloat(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | StringType | BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => other :: Nil
  }

  /** (left attr, right attr) when a/b are bare columns of j.left/j.right
    * (either order) at the SAME output ordinal — i.e. the same column of
    * the canonically-equal instances.
    */
  private def pairOf(j: Join, a: Expression, b: Expression): Option[(Attribute, Attribute)] = {
    (a, b) match {
      case (x: AttributeReference, y: AttributeReference) =>
        val li = j.left.output.indexWhere(_.exprId == x.exprId)
        val ri = j.right.output.indexWhere(_.exprId == y.exprId)
        if (li >= 0 && ri == li) Some((x, y))
        else {
          val li2 = j.left.output.indexWhere(_.exprId == y.exprId)
          val ri2 = j.right.output.indexWhere(_.exprId == x.exprId)
          if (li2 >= 0 && ri2 == li2) Some((y, x)) else None
        }
      case _ => None
    }
  }

  /** The join-level shape test alone (canonically-equal self-join whose
    * condition is corresponding-column equalities plus exactly one
    * inequality) — used by [[graft.plans.CteMaterializer]] to DECLINE
    * materializing a pair-existence CTE: inlining lets this rule replace
    * the pair expansion with one reusable aggregate, strictly cheaper
    * than computing and buffering every matching pair.
    */
  def pairShape(p: LogicalPlan): Boolean = GraftConf.enabled(name) && (p match {
    // optimized form: condition on the join
    case j @ Join(_, _, Inner, Some(cond), _) => shapeOk(j, cond)
    // analyzed form (what CteMaterializer sees): predicate still in a
    // Filter above a condition-less inner join
    case Filter(cond, j @ Join(_, _, Inner, None, _)) => shapeOk(j, cond)
    case _ => false
  })

  private def shapeOk(j: Join, cond: Expression): Boolean = {
    if (!j.resolved || j.left.canonicalized != j.right.canonicalized ||
        j.left.output.length != j.right.output.length) return false
    val conj = splitConjuncts(cond)
    var eqN = 0; var neN = 0; var ok = true
    conj.foreach {
      case EqualTo(a, b) =>
        if (pairOf(j, a, b).isDefined) eqN += 1 else ok = false
      case Not(EqualTo(a, b)) => pairOf(j, a, b) match {
        case Some(pr) if orderableNonFloat(pr._1.dataType) => neN += 1
        case _ => ok = false
      }
      case _ => ok = false
    }
    ok && eqN >= 1 && neN == 1
  }

  /** Rewrite `Project(keys)(Join(P1, P2, Inner, k=k ∧ w<>w))` with
    * canonically-equal P1/P2 into the grouped min/max form; None when
    * the node is not the shape.
    */
  private def rewriteNode(p: LogicalPlan): Option[LogicalPlan] = p match {
    case prj @ Project(projList, j @ Join(l, r, Inner, Some(cond), _))
        if j.resolved && l.canonicalized == r.canonicalized &&
          l.output.length == r.output.length && l.deterministic =>
      val conj = splitConjuncts(cond)
      val eqPairs = Seq.newBuilder[(Attribute, Attribute)]
      val nePairs = Seq.newBuilder[(Attribute, Attribute)]
      var ok = true
      conj.foreach {
        case EqualTo(a, b) => pairOf(j, a, b) match {
          case Some(pr) => eqPairs += pr
          case None => ok = false
        }
        case Not(EqualTo(a, b)) => pairOf(j, a, b) match {
          case Some(pr) if orderableNonFloat(pr._1.dataType) => nePairs += pr
          case _ => ok = false
        }
        case _ => ok = false
      }
      val eqs = eqPairs.result()
      val nes = nePairs.result()
      val eqLeftIds = eqs.map(_._1.exprId).toSet
      val eqRightToLeft = eqs.map { case (a, b) => b.exprId -> a }.toMap
      if (!ok || eqs.isEmpty || nes.length != 1 ||
          eqLeftIds.contains(nes.head._1.exprId)) return None
      val (w, _) = nes.head
      // every projected column must resolve to an equi key (left or right)
      def keyFor(e: Expression): Option[Attribute] = e match {
        case ar: AttributeReference if eqLeftIds.contains(ar.exprId) => Some(ar)
        case ar: AttributeReference => eqRightToLeft.get(ar.exprId)
        case _ => None
      }
      val outKeys = projList.map {
        case al: Alias => keyFor(al.child).map(k => (al.exprId, al.name, k))
        case ar: AttributeReference => keyFor(ar).map(k => (ar.exprId, ar.name, k))
        case _ => None
      }
      if (outKeys.exists(_.isEmpty)) return None
      val groupKeys = eqs.map(_._1)
      val notNull = groupKeys.map(IsNotNull(_): Expression).reduce(And(_, _))
      val mn = Alias(AggregateExpression(Min(w), Complete, isDistinct = false),
        "_graft_pairmin")()
      val mx = Alias(AggregateExpression(Max(w), Complete, isDistinct = false),
        "_graft_pairmax")()
      val agg = Aggregate(groupKeys, groupKeys ++ Seq(mn, mx),
        Filter(notNull, l))
      val having = Filter(Not(EqualTo(mn.toAttribute, mx.toAttribute)), agg)
      val out = Project(outKeys.map(_.get).map { case (id, name, k) =>
        if (k.exprId == id) k
        else Alias(k, name)(exprId = id)
      }, having)
      Some(out)
    case _ => None
  }

  /** Descend only through set-safe nodes (output set is a function of
    * input sets), attempting the rewrite at each.
    */
  private def rewriteSetPlan(p: LogicalPlan): LogicalPlan = {
    rewriteNode(p) match {
      case Some(n) => n
      case None => p match {
        case _: Project | _: Filter =>
          p.withNewChildren(p.children.map(rewriteSetPlan))
        case j: Join if j.joinType == Inner =>
          p.withNewChildren(p.children.map(rewriteSetPlan))
        case _ => p
      }
    }
  }

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    plan.transformAllExpressions {
      case lq: ListQuery if !lq.isCorrelated =>
        val n = rewriteSetPlan(lq.plan)
        if (n eq lq.plan) lq else lq.copy(plan = n)
      case ex: Exists if !ex.isCorrelated =>
        val n = rewriteSetPlan(ex.plan)
        if (n eq ex.plan) ex else ex.copy(plan = n)
    }
  }
}
