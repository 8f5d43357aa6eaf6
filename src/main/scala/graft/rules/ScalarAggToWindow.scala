package graft.rules

import graft.GraftRule

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.DecimalType

/** Uncorrelated scalar-aggregate subqueries over a relation the outer
  * query ALREADY computes rewrite into a window over that instance —
  * the WinMagic rewrite (Zuzarte et al., "WinMagic: Subquery
  * Elimination Using Window Aggregation", SIGMOD 2003), and the reason
  * DuckDB evaluates TPC-H q11/q15's thresholds without a second tower.
  *
  * Two shapes, both anchored at a Filter whose condition holds the
  * ScalarSubquery:
  *
  * **Filter-level** (TPC-H q15): the subquery's child canonicalizes
  * equal to a node N reachable from the Filter's child through
  * row-preserving edges (inner/cross joins both sides, the preserved
  * side of outer/semi/anti joins, Filter, SubqueryAlias). The
  * subquery's aggregates become window functions OVER () on N itself:
  * {{{
  *   WHERE total = (SELECT max(total) FROM revenue)      -- 2nd tower
  *   -->  Window(maxw = max(total) OVER ()) over revenue -- same tower
  *        ... Filter(total = maxw)
  * }}}
  * q15's `revenue` CTE is referenced twice (join + subquery); column
  * pruning diverges the two instances so exchange reuse never pairs
  * them, and the plan pays the lineitem partial→exchange→final tower
  * twice (measured: 2× 24-task partial stages per run at x100). After
  * the rewrite the CTE has ONE reference and the duplicate disappears.
  *
  * The filter-level arm also accepts a subquery child that is the
  * shared node under EXTRA Filter conjuncts (TPC-H q22's
  * `avg(c_acctbal) ... WHERE c_acctbal > 0.00 AND <shared preds>`):
  * the extra conjuncts lift into the window aggregates as
  * `f(if(pred, x, null))` — aggregates ignore NULLs, so the result is
  * exactly the filtered aggregate while the shared instance is scanned
  * once (predicate-lift; conjuncts must be deterministic,
  * subquery-free, and expressible over the shared node's output).
  *
  * **HAVING-level** (TPC-H q11): the Filter sits on a grouped
  * Aggregate and the subquery's child equals the AGGREGATE's child.
  * Any grouping partitions that child, so a decomposable global
  * aggregate re-aggregates from per-group partials (sum=sum of sums,
  * min/max likewise, count=sum of counts): per-group partials join the
  * aggregate, a window OVER () re-aggregates O(groups) rows, and the
  * second scan+join tower disappears.
  *
  * Both fire only when the two subtrees canonicalize EQUAL — this runs
  * at post-hoc resolution, before column pruning diverges the
  * instances — the subquery is uncorrelated, and the matched subtree
  * is deterministic. Supported aggregates: sum/min/max/count (plus avg
  * at filter level, where no decomposition is needed); non-distinct,
  * unfiltered. Decimal sums decline at HAVING level (re-aggregation
  * re-widens precision).
  *
  * Scale posture: replaces a full second scan of the fact table with a
  * SinglePartition window over rows the query already produced. On
  * 100 TB the saved scan dominates by the fact/group ratio; the window
  * input is the grouped/filtered result, not the base relation.
  *
  * Escape hatch: `spark.graft.disabled=ScalarAggToWindow`.
  */
object ScalarAggToWindow extends GraftRule[LogicalPlan] {
  private val wholePartition = WindowSpecDefinition(Nil, Nil,
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    // CTE definitions, for resolving CTERelationRef in the funnel guard
    // (q15's shared revenue node reaches the Filter as a ref)
    val cteDefs: Map[Long, LogicalPlan] = plan.collect {
      case d: CTERelationDef => d.id -> d.child
    }.toMap
    plan.transformUp {
      case f @ Filter(cond, child)
          if f.resolved && !f.isStreaming && cond.deterministic &&
            cond.exists(_.isInstanceOf[ScalarSubquery]) =>
        rewriteFilterLevel(cond, child, cteDefs)
          .orElse(child match {
            case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
              rewriteHaving(cond, agg)
            case _ => None
          })
          .getOrElse(f)
    }
  }

  /** Candidate subqueries in `cond`: uncorrelated, root is an ungrouped
    * single-column Aggregate.
    */
  private def candidates(cond: Expression): Seq[(ScalarSubquery, Aggregate)] =
    cond.collect {
      case s: ScalarSubquery
          if s.outerAttrs.isEmpty && s.joinCond.isEmpty && s.plan.resolved =>
        s.plan match {
          case sub @ Aggregate(Nil, Seq(_), _, _) => Some(s -> sub)
          case _ => None
        }
    }.flatten

  /** The subquery's single result expression with its Alias stripped,
    * its distinct AggregateExpressions, and whether every bare column
    * reference lives inside one of them.
    */
  private def dissect(sub: Aggregate): (Expression, Seq[AggregateExpression], Boolean) = {
    val resExpr = sub.aggregateExpressions.head match {
      case a: Alias => a.child
      case e => e
    }
    val aggs = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
      resExpr.foreach {
        case ae: AggregateExpression if !acc.exists(_.semanticEquals(ae)) => acc += ae
        case _ =>
      }
      acc.toSeq
    }
    val refsOk = resExpr.references.isEmpty ||
      resExpr.references.subsetOf(AttributeSet(aggs.flatMap(_.references)))
    (resExpr, aggs, refsOk)
  }

  private def plainAgg(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && ae.deterministic

  /** Positional output map when the two plans canonicalize equal. */
  private def outputMap(from: LogicalPlan, to: LogicalPlan): Option[Map[ExprId, Attribute]] =
    if (from.output.length == to.output.length &&
      from.output.zip(to.output).forall(p => p._1.dataType == p._2.dataType))
      Some(from.output.map(_.exprId).zip(to.output).toMap)
    else None

  // ---------------------------------------------------------------- //
  // Filter-level shape (q15)
  // ---------------------------------------------------------------- //

  /** Nodes reachable from `p` through edges that preserve every row of
    * the node's output un-null-extended into the Filter's input.
    */
  private def reachable(p: LogicalPlan): Seq[LogicalPlan] = p +: (p match {
    case j: Join => j.joinType match {
      case _: InnerLike => reachable(j.left) ++ reachable(j.right)
      case LeftOuter | LeftSemi | LeftAnti => reachable(j.left)
      case RightOuter => reachable(j.right)
      case _ => Nil
    }
    case sa: SubqueryAlias => reachable(sa.child)
    case flt: Filter => reachable(flt.child)
    case _ => Nil
  })

  private def allDeterministic(p: LogicalPlan): Boolean =
    p.expressions.forall(_.deterministic) && p.children.forall(allDeterministic)

  /** The filter-level rewrite plants a whole-partition window ON the
    * shared node — a SinglePartition funnel of that node's full output.
    * That trade only wins when the node is itself an aggregation result
    * (q15's revenue CTE: O(groups) rows), NOT a base relation: measured
    * on TPC-H q22 x100, funneling the base customer instance lost 1.12×
    * against the stock second tower (whose partial/final aggregate scans
    * in parallel), and at warehouse scale a single-partition pass over a
    * fact table is strictly worse than a second scan. Gate: Aggregate
    * (or a grouped Window) beneath row-preserving unaries.
    */
  private def aggregateRooted(p: LogicalPlan,
      cteDefs: Map[Long, LogicalPlan]): Boolean = p match {
    case _: Aggregate => true
    case _: Window => true
    case f: Filter => aggregateRooted(f.child, cteDefs)
    case pr: Project => aggregateRooted(pr.child, cteDefs)
    case sa: SubqueryAlias => aggregateRooted(sa.child, cteDefs)
    case r: CTERelationRef =>
      cteDefs.get(r.cteId).exists(aggregateRooted(_, cteDefs))
    case _ => false
  }

  /** Replace the first occurrence (by reference) of `target` in `root`. */
  private def replaceOnce(root: LogicalPlan, target: LogicalPlan,
      repl: LogicalPlan): LogicalPlan = {
    var done = false
    def go(p: LogicalPlan): LogicalPlan =
      if (done) p
      else if (p eq target) { done = true; repl }
      else {
        val ch = p.children.map(go)
        if (ch.zip(p.children).forall(x => x._1 eq x._2)) p
        else p.withNewChildren(ch)
      }
    go(root)
  }

  /** Aggregates that evaluate directly as whole-partition window
    * functions (no decomposition — same function, same type).
    */
  private def windowable(fn: AggregateFunction): Boolean = fn match {
    case _: Sum | _: Min | _: Max | _: Count | _: Average => true
    case _ => false
  }

  /** Peel Filter layers off the subquery's child, collecting their
    * conjuncts — the PREDICATE-LIFT form (TPC-H q22): when the subquery
    * scans the same relation the outer query holds but under extra
    * filter conjuncts, those conjuncts lift INTO the window aggregates
    * as `f(if(pred, x, null))` — aggregates ignore NULLs, so the window
    * over the shared (unfiltered) instance computes exactly the
    * filtered aggregate, and the second scan tower still disappears.
    */
  private def stripFilters(p: LogicalPlan): (LogicalPlan, Seq[Expression]) =
    p match {
      case Filter(c, ch) =>
        val (core, rest) = stripFilters(ch)
        (core, splitCond(c) ++ rest)
      case other => (other, Nil)
    }

  private def splitCond(c: Expression): Seq[Expression] = c match {
    case And(l, r) => splitCond(l) ++ splitCond(r)
    case x => Seq(x)
  }

  private def rewriteFilterLevel(cond: Expression, child: LogicalPlan,
      cteDefs: Map[Long, LogicalPlan]): Option[LogicalPlan] = {
    val cands = candidates(cond)
    if (cands.isEmpty) return None
    var cur = child
    val repl = scala.collection.mutable.Map.empty[ExprId, Expression]
    cands.foreach { case (s, sub) =>
      val (resExpr, aggs, refsOk) = dissect(sub)
      val (core, lifted) = stripFilters(sub.child)
      if (refsOk && aggs.nonEmpty &&
          lifted.forall(_.deterministic) &&
          // every lifted conjunct must be expressible over the core's
          // own output (no subqueries — an Exists/In would not remap)
          lifted.forall(c => c.references.subsetOf(core.outputSet) &&
            !c.exists(_.isInstanceOf[SubqueryExpression])) &&
          // a lifted predicate turns agg children nullable via If — the
          // function must consume its children (count() has none only
          // in the count(*) Literal form, which If-wraps fine)
          (lifted.isEmpty || aggs.forall(_.aggregateFunction.children.nonEmpty)) &&
          aggs.forall(ae => plainAgg(ae) && windowable(ae.aggregateFunction))) {
        // search the CURRENT child so several subqueries can each claim
        // (possibly different) nodes; a node already wrapped in a prior
        // candidate's Window stays reachable through neither edge, so a
        // second identical subquery re-matches the inner node — which
        // is correct (its rows are unchanged)
        reachable(cur).find(n => allDeterministic(n) &&
            aggregateRooted(n, cteDefs) &&
            n.canonicalized == core.canonicalized &&
            outputMap(core, n).isDefined) match {
          case Some(n) =>
            val attrMap = outputMap(core, n).get
            val predOnN: Option[Expression] =
              if (lifted.isEmpty) None
              else Some(lifted.map(_.transformUp {
                case a: AttributeReference => attrMap(a.exprId)
              }).reduce(And))
            val wexprs = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
            val winFor: Map[AggregateExpression, Attribute] = aggs.map { ae =>
              val remapped0 = ae.transformUp {
                case a: AttributeReference => attrMap(a.exprId)
              }.asInstanceOf[AggregateExpression]
              // lifted-filter form: null out every aggregate input on
              // rows the subquery's own Filter would have dropped
              val remapped = predOnN match {
                case None => remapped0
                case Some(p) =>
                  val fn = remapped0.aggregateFunction
                  val fn2 = fn.withNewChildren(fn.children.map(c =>
                    If(p, c, Literal(null, c.dataType)))
                  ).asInstanceOf[AggregateFunction]
                  remapped0.copy(aggregateFunction = fn2)
              }
              val w = Alias(WindowExpression(remapped, wholePartition),
                s"_graft_wscalar_${repl.size}_${wexprs.length}")()
              wexprs += w
              ae -> w.toAttribute
            }.toMap
            val newExpr = resExpr.transformUp {
              case ae: AggregateExpression =>
                winFor.find(_._1.semanticEquals(ae)).get._2
            }
            cur = replaceOnce(cur, n, Window(wexprs.toSeq, Nil, Nil, n))
            repl(s.exprId) =
              if (newExpr.dataType == s.dataType) newExpr else Cast(newExpr, s.dataType)
          case None =>
        }
      }
    }
    if (repl.isEmpty) return None
    val newCond = cond.transformUp {
      case s: ScalarSubquery => repl.getOrElse(s.exprId, s)
    }
    Some(Project(child.output, Filter(newCond, cur)))
  }

  // ---------------------------------------------------------------- //
  // HAVING-level shape (q11)
  // ---------------------------------------------------------------- //

  /** A decomposable aggregate: builder of the total-of-partials
    * function. None when the function doesn't re-aggregate.
    */
  private def reAgg(fn: AggregateFunction): Option[Expression => AggregateFunction] =
    fn match {
      case _: Sum if !fn.dataType.isInstanceOf[DecimalType] => Some(e => Sum(e))
      case _: Min => Some(e => Min(e))
      case _: Max => Some(e => Max(e))
      case _: Count => Some(e => Sum(e))
      case _ => None
    }

  private def rewriteHaving(cond: Expression, agg: Aggregate): Option[LogicalPlan] = {
    val outChild = agg.child
    val cands = candidates(cond).filter { case (_, sub) =>
      sub.child.canonicalized == outChild.canonicalized &&
        outputMap(sub.child, outChild).isDefined && allDeterministic(outChild)
    }
    if (cands.isEmpty) return None

    val partials = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    val windows = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    val repl = scala.collection.mutable.Map.empty[ExprId, Expression]
    cands.foreach { case (s, sub) =>
      val attrMap = outputMap(sub.child, outChild).get
      val (resExpr, aggs, refsOk) = dissect(sub)
      val decomposable = aggs.forall(ae =>
        plainAgg(ae) && reAgg(ae.aggregateFunction).isDefined)
      if (refsOk && aggs.nonEmpty && decomposable) {
        val totalFor: Map[AggregateExpression, Attribute] = aggs.map { ae =>
          val remapped = ae.transformUp {
            case a: AttributeReference => attrMap(a.exprId)
          }.asInstanceOf[AggregateExpression]
          val partial = Alias(remapped, s"_graft_whaving_p${partials.length}")()
          partials += partial
          val totalFn = reAgg(ae.aggregateFunction).get(partial.toAttribute)
          val total = Alias(
            WindowExpression(totalFn.toAggregateExpression(), wholePartition),
            s"_graft_whaving_t${windows.length}")()
          windows += total
          ae -> total.toAttribute
        }.toMap
        val newExpr = resExpr.transformUp {
          case ae: AggregateExpression =>
            val t = totalFor.find(_._1.semanticEquals(ae)).get._2
            if (t.dataType == ae.dataType) t else Cast(t, ae.dataType)
        }
        repl(s.exprId) =
          if (newExpr.dataType == s.dataType) newExpr else Cast(newExpr, s.dataType)
      }
    }
    if (repl.isEmpty) return None

    val newCond = cond.transformUp {
      case s: ScalarSubquery => repl.getOrElse(s.exprId, s)
    }
    val extended = agg.copy(
      aggregateExpressions = agg.aggregateExpressions ++ partials.toSeq)
    val windowed = Window(windows.toSeq, Nil, Nil, extended)
    Some(Project(agg.output, Filter(newCond, windowed)))
  }
}
