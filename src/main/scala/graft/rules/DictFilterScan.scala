package graft.rules

import graft.GraftRule
import graft.plans.CacheFilterExec
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, NamedExpression, PredicateHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.StringType

/** Route string-only filters over the columnar cache through
  * [[CacheFilterExec]]'s per-dictionary-entry evaluation.
  *
  * Fires on `Filter` — optionally under a purely-pruning `Project` —
  * whose child is a columnar-capable cache scan, when EVERY conjunct is
  * a deterministic predicate over exactly one string column of the scan
  * (`l_returnflag <> 'R'`, `c_mktsegment = 'BUILDING'`,
  * `text LIKE '%the%' AND source <> ''`, IS [NOT] NULL, IN-lists …).
  * Mixed string/non-string filters keep the stock whole-stage-codegen
  * filter: splitting them would trade fused evaluation for an iterator
  * hop on conjuncts that gain nothing from the dictionary.
  *
  * Runs inside [[InsertCacheColumnarToRow]] right after the
  * ColumnarToRow insertion, so the match shape is deterministic and the
  * batch-direct aggregate rewrites that follow see the same child kinds
  * they always did.
  */
object DictFilterScan extends GraftRule[SparkPlan] with PredicateHelper {
  private def eligible(cond: Expression, scan: InMemoryTableScanExec): Option[Seq[Expression]] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val ok = conjuncts.forall { c =>
      c.deterministic && !c.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) &&
        c.references.size == 1 && {
          val a = c.references.head
          a.dataType == StringType && scan.output.exists(_.exprId == a.exprId)
        }
    }
    if (ok && conjuncts.nonEmpty) Some(conjuncts) else None
  }

  private def pruningOnly(projectList: Seq[NamedExpression]): Option[Seq[Attribute]] = {
    val attrs = projectList.collect { case a: AttributeReference => a }
    if (attrs.length == projectList.length) Some(attrs) else None
  }

  /** A columnar-capable cache scan, bare or under AQE's table-cache
    * stage, with or without the just-inserted ColumnarToRow. */
  private object CacheScan {
    def unapply(p: SparkPlan): Option[(SparkPlan, InMemoryTableScanExec)] = p match {
      case ColumnarToRowExec(c) => unapply(c)
      case s: InMemoryTableScanExec if s.supportsColumnar => Some((s, s))
      case s: org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
          if s.supportsColumnar =>
        s.plan match {
          case i: InMemoryTableScanExec => Some((s, i))
          case _ => None
        }
      case _ => None
    }
  }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    // top-down so the pruning-Project fold wins over the bare-Filter arm
    plan.transformDown {
      case p @ ProjectExec(projectList, FilterExec(cond, CacheScan(child, scan))) =>
        (eligible(cond, scan), pruningOnly(projectList)) match {
          case (Some(conjuncts), Some(attrs)) => CacheFilterExec(attrs, conjuncts, child)
          case _ => p
        }
      case f @ FilterExec(cond, CacheScan(child, scan)) =>
        eligible(cond, scan) match {
          case Some(conjuncts) => CacheFilterExec(scan.output, conjuncts, child)
          case None => f
        }
    }
  }
}
