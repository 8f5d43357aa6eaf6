package graft.rules

import graft.GraftRule

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}

/** Magic-set pushdown: when a join's one side is a grouped aggregate
  * over a BIG child and the join equi-keys hit the aggregate's grouping
  * attributes, filter the aggregate's INPUT by the other side's key set
  * before aggregating — the Spark re-expression of the reference's
  * delim-join / join-filter-pushdown pair
  * (/root/reference/src/optimizer/join_filter_pushdown_optimizer.cpp:
  * the probe side's key domain reaches the RHS aggregate), and the
  * reason DuckDB's TPC-H q2/q17/q20 never aggregate the whole fact.
  *
  * The decorrelated TPC-H q17 shape:
  * {{{
  *   Join(part[Brand#23, MED BOX] ⋈ lineitem,           -- ~1/1000 parts
  *        Aggregate(l_partkey)(avg(l_quantity), lineitem),
  *        p_partkey = l_partkey AND l_quantity < threshold)
  * }}}
  * Stock Spark aggregates ALL of lineitem (x100: 6M rows → 200k groups
  * → a 26 MB exchange, measured the query's dominant stage) and drops
  * 99.9% of the groups at the join. This rule:
  *  1. chases each key attribute into the SHALLOWEST subtree of the key
  *     side that passes the broadcast size gate (q17: the filtered part
  *     scan, keeping its Brand/container filters — each descent step
  *     yields a SUPERSET of the surviving key values, so any stopping
  *     point is sound);
  *  2. injects `groupKeys IN (SELECT keys FROM that subtree)` at the
  *     DEEPEST inner-join-reachable node of the aggregate's input that
  *     produces the grouping attributes (q2: the partsupp scan inside
  *     the aggregate's own 4-way join, so the join above shrinks too);
  *  3. lets `RewritePredicateSubquery` turn the IN into a broadcast
  *     LEFT SEMI join, with its attribute dedup handling the shared
  *     subtree — the same reuse discipline as Spark's own
  *     InjectRuntimeFilter.
  *
  * Soundness (inner equi-join, aggregate on the right of Inner or
  * LeftSemi): a filtered-out input row's group key is, by construction,
  * absent from a SUPERSET of the key side's surviving join keys, so its
  * group is dropped by the join anyway; rows with NULL group keys match
  * nothing on either path; pushdown on a subset of the grouping keys
  * stays sound for the same reason. Descent below the aggregate goes
  * through inner joins only: the group-key column rides unchanged
  * through them, so dropped deep rows only feed dropped groups.
  *
  * Size gate: key subtree ≤ autoBroadcastJoinThreshold (the semi must
  * broadcast) and the injection site ≥ 2× bigger. At 100 TB this is
  * precisely the selective-dimension case where the saved fact
  * aggregation dominates; a non-selective key side declines.
  *
  * Escape hatch: `spark.graft.disabled=SemiJoinThroughAgg`.
  */
object SemiJoinThroughAgg extends GraftRule[LogicalPlan] {
  private val MARK = "_graft_semiagg_k"

  /** The Aggregate under pass-through wrappers (Project/Filter), plus a
    * map from wrapper-level output exprIds to the aggregate's grouping
    * ATTRIBUTES (chasing aliases).
    */
  private def aggUnder(p: LogicalPlan): Option[(Aggregate, Map[ExprId, Attribute])] =
    p match {
      case a: Aggregate if a.groupingExpressions.nonEmpty =>
        val groupAttrs = AttributeSet(a.groupingExpressions.collect {
          case ar: AttributeReference => ar
        })
        val m = a.aggregateExpressions.collect {
          case al: Alias if al.child.isInstanceOf[AttributeReference] &&
              groupAttrs.contains(al.child.asInstanceOf[AttributeReference]) =>
            al.exprId -> al.child.asInstanceOf[AttributeReference]
          case ar: AttributeReference if groupAttrs.contains(ar) => ar.exprId -> ar
        }.toMap
        Some(a -> m)
      case prj: Project =>
        aggUnder(prj.child).map { case (a, m) =>
          val m2 = prj.projectList.flatMap {
            case al: Alias if al.child.isInstanceOf[AttributeReference] =>
              m.get(al.child.asInstanceOf[AttributeReference].exprId)
                .map(al.exprId -> _)
            case ar: AttributeReference => m.get(ar.exprId).map(ar.exprId -> _)
            case _ => None
          }.toMap
          a -> m2
        }
      case f: Filter => aggUnder(f.child)
      case _ => None
    }

  private def alreadyInjected(agg: Aggregate): Boolean = agg.child.exists {
    case jn: Join if jn.joinType == LeftSemi =>
      jn.right.output.exists(_.name.startsWith(MARK))
    case _ => false
  }

  /** Chase `ids` one level through a Project's alias map; None when any
    * id is computed (not a bare column).
    */
  private def chaseProject(prj: Project, ids: Seq[ExprId]): Option[Seq[ExprId]] = {
    val m: Map[ExprId, ExprId] = prj.projectList.collect {
      case al: Alias if al.child.isInstanceOf[AttributeReference] =>
        al.exprId -> al.child.asInstanceOf[AttributeReference].exprId
      case ar: AttributeReference => ar.exprId -> ar.exprId
    }.toMap
    val out = ids.map(m.get)
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  private def attrsOf(p: LogicalPlan, ids: Seq[ExprId]): Option[Seq[Attribute]] = {
    val out = ids.map(id => p.output.find(_.exprId == id))
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  /** Shallowest subtree of the key side that passes the size gate and
    * still produces every key attribute — each descent step (through
    * projects, filters, aliases, either join side, or an aggregate's
    * grouping key) yields a superset of the surviving key values.
    */
  private def keySide(p: LogicalPlan, ids: Seq[ExprId],
      threshold: Long): Option[(LogicalPlan, Seq[Attribute])] = {
    if (p.stats.sizeInBytes <= threshold) return attrsOf(p, ids).map(p -> _)
    p match {
      case prj: Project =>
        chaseProject(prj, ids).flatMap(keySide(prj.child, _, threshold))
      case f: Filter => keySide(f.child, ids, threshold)
      case sa: SubqueryAlias => keySide(sa.child, ids, threshold)
      case jn: Join =>
        val idSet = ids.toSet
        if (idSet.subsetOf(jn.left.outputSet.map(_.exprId).toSet))
          keySide(jn.left, ids, threshold)
        else if (idSet.subsetOf(jn.right.outputSet.map(_.exprId).toSet))
          keySide(jn.right, ids, threshold)
        else None
      case a: Aggregate =>
        val grp = a.groupingExpressions.collect {
          case ar: AttributeReference => ar.exprId
        }.toSet
        if (ids.forall(grp.contains)) keySide(a.child, ids, threshold) else None
      case _ => None
    }
  }

  /** Deepest inner-join-reachable node of the aggregate input producing
    * all grouping attributes — the injection site.
    */
  private def deepSite(p: LogicalPlan, ids: Seq[ExprId]): (LogicalPlan, Seq[ExprId]) =
    p match {
      case prj: Project =>
        chaseProject(prj, ids) match {
          case Some(below) => deepSite(prj.child, below)
          case None => (p, ids)
        }
      case f: Filter => deepSite(f.child, ids)
      case sa: SubqueryAlias => deepSite(sa.child, ids)
      case jn: Join if jn.joinType == Inner =>
        val idSet = ids.toSet
        if (idSet.subsetOf(jn.left.outputSet.map(_.exprId).toSet)) deepSite(jn.left, ids)
        else if (idSet.subsetOf(jn.right.outputSet.map(_.exprId).toSet)) deepSite(jn.right, ids)
        else (p, ids)
      case _ => (p, ids)
    }

  /** Deep copy with fresh exprIds (leaf newInstance + reference remap) —
    * the ListQuery must not share attribute ids with the main plan or
    * the semi join RewritePredicateSubquery builds is duplicate-unsafe.
    * None when the tree holds a non-MultiInstance leaf or a nested plan
    * expression (whose inner/outer id wiring a blind remap would break).
    */
  private def freshen(p: LogicalPlan,
      ids: Seq[ExprId]): Option[(LogicalPlan, Seq[Attribute])] = {
    // nested UNCORRELATED subqueries are self-contained islands (their
    // plans keep their own exprIds and are not traversed by the remap);
    // correlated ones would need their OuterReferences remapped — decline
    if (p.exists(_.expressions.exists(_.exists {
      case s: SubqueryExpression => s.isCorrelated
      case _: PlanExpression[_] => true
      case _ => false
    }))) return None
    if (p.exists(n => n.children.isEmpty &&
        !n.isInstanceOf[org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation]))
      return None
    val m = scala.collection.mutable.HashMap.empty[ExprId, ExprId]
    def go(q: LogicalPlan): LogicalPlan = q match {
      case mi: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
        val fresh = mi.newInstance().asInstanceOf[LogicalPlan]
        q.output.zip(fresh.output).foreach { case (o, n) => m(o.exprId) = n.exprId }
        fresh
      case _ =>
        q.withNewChildren(q.children.map(go)).transformExpressionsUp {
          case a: AttributeReference if m.contains(a.exprId) =>
            a.withExprId(m(a.exprId))
          case al: Alias =>
            val nid = NamedExpression.newExprId
            m(al.exprId) = nid
            Alias(al.child, al.name)(nid, al.qualifier, al.explicitMetadata,
              al.nonInheritableMetadataKeys)
        }
    }
    val fresh = go(p)
    attrsOf(fresh, ids.map(id => m.getOrElse(id, id))).map(fresh -> _)
  }

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

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold <= 0) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner | LeftSemi, Some(cond), _)
          if j.resolved && cond.deterministic =>
        aggUnder(right) match {
          case Some((agg, groupOf))
              if !alreadyInjected(agg) && !agg.isStreaming &&
                agg.child.deterministic =>
            val leftOut = left.outputSet
            val pairs = splitConjuncts(cond).collect {
              case EqualTo(a: AttributeReference, b: AttributeReference)
                  if leftOut.contains(a) && groupOf.contains(b.exprId) =>
                (a, groupOf(b.exprId))
              case EqualTo(b: AttributeReference, a: AttributeReference)
                  if leftOut.contains(a) && groupOf.contains(b.exprId) =>
                (a, groupOf(b.exprId))
            }
            logDebug(s"join match: pairs=$pairs " +
              s"leftStats=${left.stats.sizeInBytes} " +
              s"aggChildStats=${agg.child.stats.sizeInBytes}")
            if (pairs.isEmpty) j
            else keySide(left, pairs.map(_._1.exprId), threshold)
              .flatMap { case (kt, kAttrs) =>
                freshen(kt, kAttrs.map(_.exprId)).map { case (f, fa) => (kt, f, fa) }
              } match {
              case Some((keyTree, freshTree, keyAttrs)) =>
                val (site, siteIds) = deepSite(agg.child, pairs.map(_._2.exprId))
                attrsOf(site, siteIds) match {
                  case Some(siteAttrs)
                      if {
                        logDebug(s"site=${site.nodeName} " +
                          s"siteStats=${site.stats.sizeInBytes} " +
                          s"keyStats=${keyTree.stats.sizeInBytes}")
                        site.stats.sizeInBytes > keyTree.stats.sizeInBytes * 2 &&
                        siteAttrs.map(_.dataType) == keyAttrs.map(_.dataType)
                      } =>
                    val proj = Project(
                      keyAttrs.zipWithIndex.map { case (a, i) =>
                        Alias(a, s"$MARK$i")()
                      }, freshTree)
                    // build the semi join directly (the freshened copy
                    // already guarantees disjoint exprIds); NULL-safe
                    // not needed: inner equi-join drops NULL keys anyway
                    val semiCond = siteAttrs.zip(proj.output)
                      .map { case (s, k) => EqualTo(s, k): Expression }
                      .reduce(And(_, _))
                    val semi = Join(site, proj, LeftSemi, Some(semiCond), JoinHint.NONE)
                    val newAggChild = replaceOnce(agg.child, site, semi)
                    val newRight = right.transformUp {
                      case a: Aggregate if a eq agg => agg.copy(child = newAggChild)
                    }
                    j.copy(right = newRight)
                  case _ => j
                }
              case None => j
            }
          case _ => j
        }
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => other :: Nil
  }
}
