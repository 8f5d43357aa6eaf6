package graft.rules

import graft.{GraftConf, GraftRule}
import graft.functions.{UtcCalendarTrunc, UtcMicrosToDate, UtcNtzReinterpret}
import graft.plans.DriverAgg
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort}
import org.apache.spark.sql.types.{BooleanType, DateType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Auto-route `ORDER BY` over a provably-low-cardinality grouped
  * aggregate into the driver-finalized single-job aggregate
  * ([[graft.plans.DriverAgg]]) — the planner-side twin of the
  * reference's stats-driven PERFECT_HASH_GROUP_BY choice
  * (/root/reference/src/optimizer/...: group-by chooses the perfect-hash
  * operator when statistics bound the key domain).
  *
  * Why: a generic `GROUP BY calendar_bucket ORDER BY bucket` plans
  * partial → hash exchange → final → RANGE exchange (with its sampling
  * job) → sort — four stages for what is, with a bounded key domain, a
  * single scan plus a driver merge of a few hundred groups. The month
  * histogram (`cb_date_histogram`) carries ~90 ms of pure stage/dispatch
  * overhead at sf1 for 84 groups.
  *
  * The cardinality proof combines two sources:
  *  - intrinsic domains: booleans; `month()`/`quarter()`/`dayofweek()`/
  *    `hour()`-family extracts whose range is fixed by the calendar;
  *  - column day-range statistics ([[graft.Tables]] attaches
  *    `graft.minDay`/`graft.maxDay` metadata to date/timestamp columns at
  *    cache build — the zone-map/catalog stats a warehouse table carries):
  *    `date_trunc('month'|'quarter'|'year'|'week', col)` and `year(col)`
  *    then bound to the spanned buckets.
  * The product over all grouping keys must stay ≤ [[MaxBound]].
  *
  * Scale posture: the estimate only has to be RIGHT-ISH — the exec's
  * runtime `maxGroups` valve (64k) re-runs the retained shuffled plan if
  * the claim fails, so stale statistics cost one aborted scan, never a
  * wrong answer (spec: BoundedDriverAggSpec "lying metadata"). Calendar
  * buckets are intrinsically scale-safe: 100 TB of events still spans
  * physical time, not more months.
  */
object BoundedKeyDriverAgg extends GraftRule[LogicalPlan] {
  /** fire only when the estimated group-domain product is ≤ this */
  val MaxBound: Long = 4096L

  private val MIN_DAY = "graft.minDay"
  private val MAX_DAY = "graft.maxDay"

  /** (min, max) epoch-day range of a date/timestamp-valued expression,
    * walked through the UTC reinterpret/cast wrappers to a column whose
    * metadata carries day-range statistics.
    */
  private def daySpan(e: Expression): Option[(Long, Long)] = e match {
    case a: AttributeReference
        if a.metadata.contains(MIN_DAY) && a.metadata.contains(MAX_DAY) =>
      Some((a.metadata.getLong(MIN_DAY), a.metadata.getLong(MAX_DAY)))
    case c: Cast => daySpan(c.child)
    case UtcNtzReinterpret(c) => daySpan(c)
    case UtcMicrosToDate(c) => daySpan(c)
    case _ => None
  }

  /** Upper bound on calendar buckets of `unit` within a day span (+1 for
    * a NULL group; the divisors under-count a unit's length so the bound
    * over-counts, which is the safe direction).
    */
  private def calBound(unit: String, span: Option[(Long, Long)]): Option[Long] = {
    val perBucket: Option[Long] = unit match {
      case "week" => Some(7L)
      case "month" | "mon" | "mm" => Some(28L)
      case "quarter" => Some(89L)
      case "year" | "yyyy" | "yy" => Some(365L)
      case _ => None
    }
    for ((lo, hi) <- span; d <- perBucket) yield (hi - lo) / d + 3
  }

  private def kernelUnit(kernel: String): String = kernel match {
    case "truncWeek" => "week"
    case "truncMonth" => "month"
    case "truncQuarter" => "quarter"
    case "truncYear" => "year"
    case other => other
  }

  /** Upper bound on the distinct-value domain of one grouping key. */
  private def groupBound(e0: Expression): Option[Long] = {
    val e = e0 match { case a: Alias => a.child; case x => x }
    e match {
      case _ if e.foldable => Some(1L)
      case _ if e.dataType == BooleanType => Some(3L)
      case Month(_) => Some(13L)
      case Quarter(_) => Some(5L)
      case DayOfWeek(_) | WeekDay(_) => Some(8L)
      case Hour(_, _) => Some(25L)
      case DayOfMonth(_) => Some(32L)
      case DayOfYear(_) => Some(367L)
      case WeekOfYear(_) => Some(54L)
      case Minute(_, _) | Second(_, _) => Some(61L)
      case Year(c) => calBound("year", daySpan(c))
      case UtcCalendarTrunc(c, kernel) => calBound(kernelUnit(kernel), daySpan(c))
      case TruncTimestamp(Literal(fmt: UTF8String, StringType), c, _) =>
        calBound(fmt.toString.toLowerCase(java.util.Locale.ROOT), daySpan(c))
      case TruncDate(c, Literal(fmt: UTF8String, StringType)) =>
        calBound(fmt.toString.toLowerCase(java.util.Locale.ROOT), daySpan(c))
      // FastUtcDateTrunc's fixed-width form: micros - pmod(micros, unit)
      // — day and hour buckets bound to span × buckets/day
      case MicrosToTimestamp(Subtract(UnixMicros(c), Pmod(UnixMicros(_), Literal(u: Long, _), _), _))
          if u >= 3600000000L && 86400000000L % u == 0 =>
        daySpan(c).map { case (lo, hi) => (hi - lo + 2) * (86400000000L / u) + 1 }
      // casts merge values, never split them: domain only shrinks
      case UtcMicrosToDate(c) => groupBound(c).orElse(
        daySpan(c).map { case (lo, hi) => hi - lo + 3 })
      case c: Cast => groupBound(c.child)
      // column NDV sketches from the Tables stats pass (strings/ints) —
      // metadata rides the attribute through joins, so a low-cardinality
      // dimension key grouped above a join still proves out
      case a: AttributeReference if a.metadata.contains("graft.ndvBound") =>
        Some(a.metadata.getLong("graft.ndvBound") + 1)
      case a: AttributeReference if a.dataType == DateType =>
        daySpan(a).map { case (lo, hi) => hi - lo + 3 }
      // bucketing conditionals (CASE WHEN … THEN 'label' …, the TPC-DS
      // report-bucket shape): the domain is at most the union of the
      // branch domains (+1 for the absent-else NULL)
      case cw: CaseWhen =>
        val branches = cw.branches.map(b => groupBound(b._2)) :+
          cw.elseValue.map(groupBound).getOrElse(Some(1L))
        if (branches.forall(_.isDefined)) Some(branches.flatten.sum + 1) else None
      case If(_, t, f) =>
        for (a <- groupBound(t); b <- groupBound(f)) yield a + b + 1
      case Coalesce(children) =>
        val bs = children.map(groupBound)
        if (bs.forall(_.isDefined)) Some(bs.flatten.sum + 1) else None
      case _ => None
    }
  }

  /** True when the parquet reader could answer the whole aggregate from
    * footer metadata (spark.sql.parquet.aggregatePushdown: COUNT/MIN/MAX
    * only, no SUM/AVG, directly over a bare relation) — rerouting those
    * to a scan loop would REPLACE a metadata read with a full scan.
    */
  private def metadataAnswerable(agg: Aggregate): Boolean = {
    def bare(p: LogicalPlan): Boolean = p match {
      case prj: org.apache.spark.sql.catalyst.plans.logical.Project =>
        prj.projectList.forall(_.isInstanceOf[AttributeReference]) && bare(prj.child)
      // a CACHED relation has no footer metadata to push into — stock
      // COUNT(*) iterates every cached row while the routed column-major
      // partial just sums batch row counts (ClickBench q01: 86 → one
      // batch-count job), so cached leaves are NOT metadata-answerable
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => false
      case _ => p.children.isEmpty
    }
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Max, Min}
    val fns = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
      agg.aggregateExpressions.foreach(_.foreach {
        case ae: AggregateExpression => acc += ae
        case _ =>
      })
      acc.toSeq
    }
    fns.forall(_.aggregateFunction match {
      case _: Count | _: Min | _: Max => true
      case _ => false
    }) && bare(agg.child)
  }

  /** Scan-like child: a leaf under Project/Filter chains only. The
    * ungrouped route's win is the COLUMNAR batch arm over a scan (plus
    * one saved stage); over a join/union output it would run the
    * interpreted row partial against 10^7+ joined rows — measured 1.2-
    * 1.5x SLOWER than the codegen'd stock aggregate (PERF.md r14 A/B),
    * so those shapes keep the stock plan.
    */
  private def scanLike(p: LogicalPlan): Boolean = p match {
    case _ if p.children.isEmpty => true
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter => scanLike(f.child)
    case prj: org.apache.spark.sql.catalyst.plans.logical.Project => scanLike(prj.child)
    case _ => false
  }

  /** Grouped-aggregate-topped child: Project/Filter chains over a grouped
    * Aggregate — the thq15 scalar-subquery shape (max/sum over a grouped
    * CTE result). Routing the ungrouped aggregate here drops the
    * partial → SinglePartition exchange → final roundtrip stock Spark
    * plans above the grouped FINAL: the driver-finalized partial runs
    * INSIDE the final's stage and the driver merges O(partitions) states
    * (reference behavior: one pipeline breaker per aggregate,
    * /root/reference/src/execution/operator/aggregate/
    * physical_ungrouped_aggregate.cpp combine/finalize). The interpreted
    * row partial is safe on this shape: its input is O(groups), not the
    * O(rows) join outputs the scanLike veto protects against.
    */
  private def aggTopped(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.nonEmpty
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter => aggTopped(f.child)
    case prj: org.apache.spark.sql.catalyst.plans.logical.Project => aggTopped(prj.child)
    case _ => false
  }

  /** Route a root ungrouped aggregate into the driver-finalized form.
    * Declines (returns the input) for DISTINCT (FuseSingleDistinct's
    * surface), FILTER clauses, unsupported functions (layout throws →
    * Try), streaming or non-scan-like children, and metadata-answerable
    * shapes.
    */
  private def routeUngrouped(agg: Aggregate): LogicalPlan = {
    val hasDistinct = agg.aggregateExpressions.exists(_.exists {
      case ae: AggregateExpression => ae.isDistinct || ae.filter.isDefined
      case _ => false
    })
    if (hasDistinct || agg.isStreaming || !agg.resolved ||
        !(scanLike(agg.child) || aggTopped(agg.child)) ||
        metadataAnswerable(agg) ||
        !agg.aggregateExpressions.forall(_.deterministic)) agg
    else scala.util.Try(DriverAgg.fromAggregate(agg, Nil, limit = -1,
      maxGroups = 1 << 16, fallback = agg,
      ansi = conf.ansiEnabled)).getOrElse(agg)
  }

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    if (DriverAgg.replanning.get()) return plan
    // Root UNGROUPED aggregates route to the driver-finalized single-job
    // form (one Acc per partition, driver merge of P states) — the fused
    // scan→ungrouped-aggregate every native engine runs (reference:
    // physical_ungrouped_aggregate.cpp)
    val ungroupedEnabled = GraftConf.enabled("DriverAgg.ungrouped")
    val routedRoot = plan match {
      case agg: Aggregate
          if ungroupedEnabled && agg.groupingExpressions.isEmpty =>
        routeUngrouped(agg)
      // scalar-subquery plans re-enter the optimizer wrapped in a
      // Subquery node (OptimizeSubqueries) — the thq15 max-over-CTE
      // shape lives here. Correlated subqueries keep the stock plan
      // (decorrelation must still see the Aggregate).
      case s @ org.apache.spark.sql.catalyst.plans.logical.Subquery(
          agg: Aggregate, correlated)
          if ungroupedEnabled && !correlated &&
            agg.groupingExpressions.isEmpty =>
        val routed = routeUngrouped(agg)
        if (routed eq agg) s else s.copy(child = routed)
      case _ => plan
    }
    routedRoot.transformDown {
      case s @ Sort(order, true, agg: Aggregate, _)
          if agg.groupingExpressions.nonEmpty &&
            agg.groupingExpressions.forall(_.deterministic) &&
            s.references.subsetOf(agg.outputSet) && !agg.isStreaming =>
        // SELECT DISTINCT x AS y groups on the aggregate's OWN result
        // alias (`y`), which the child never outputs — ground such keys
        // through the result aliases first, and veto anything that still
        // doesn't evaluate against the child (the exec binds group keys
        // to child output)
        val selfAlias: Map[ExprId, Expression] = agg.aggregateExpressions.collect {
          case al: Alias if al.child.deterministic => al.exprId -> al.child
        }.toMap
        val groundedKeys = agg.groupingExpressions.map(_.transformUp {
          case a: AttributeReference if selfAlias.contains(a.exprId) =>
            selfAlias(a.exprId)
        })
        val agg0 =
          if (groundedKeys.zip(agg.groupingExpressions).forall(p => p._1 eq p._2)) agg
          else agg.copy(groupingExpressions = groundedKeys)
        // PullOutGroupingExpressions (first optimizer batch) replaces
        // complex group keys with aliases computed in a Project below —
        // chase those aliases so the bound sees the real expression
        val aliasMap: Map[ExprId, Expression] = agg0.child match {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList.collect { case a: Alias => a.exprId -> a.child }.toMap
          case _ => Map.empty
        }
        val keys = agg0.groupingExpressions.map(_.transformUp {
          case a: AttributeReference if aliasMap.contains(a.exprId) =>
            aliasMap(a.exprId)
        })
        val grounded = agg0.groupingExpressions
          .forall(_.references.subsetOf(agg0.child.outputSet))
        val bounds =
          if (grounded) keys.map(groupBound) else Seq(None)
        // overflow-checked product: several large per-key bounds can wrap
        // a plain Long product to a small positive value, firing the
        // route without a valid proof (the valve keeps results correct
        // but pays an aborted scan + replan)
        val product = if (bounds.forall(_.isDefined))
          scala.util.Try(bounds.flatten.foldLeft(1L)(Math.multiplyExact))
            .toOption
        else None
        // count(DISTINCT x) is admissible when x's own domain is ALSO
        // statistics-bounded — the exec then carries an exact per-group
        // distinct set (CountDistinctSlot), still valve-protected
        val distincts = {
          val acc = scala.collection.mutable.ArrayBuffer.empty[AggregateExpression]
          agg0.aggregateExpressions.foreach(_.foreach {
            case ae: AggregateExpression if ae.isDistinct => acc += ae
            case _ =>
          })
          acc.toSeq
        }
        val distinctOk = distincts.forall { ae =>
          ae.filter.isEmpty && (ae.aggregateFunction match {
            case org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(c)) =>
              val sub = c.transformUp {
                case a: AttributeReference if aliasMap.contains(a.exprId) =>
                  aliasMap(a.exprId)
              }
              groupBound(sub).exists(_ <= MaxBound)
            case _ => false
          })
        }
        logDebug(s"keys=$keys bounds=$bounds product=$product " +
          s"distinctOk=$distinctOk maxBound=$MaxBound grounded=$grounded")
        product match {
          case _ if !distinctOk => s
          case Some(b) if b > 0 && b <= MaxBound =>
            // re-inline the pulled-out Project: with the group chain back
            // in the aggregate and the exec sitting directly on the cache
            // scan, the packed partial's batch loop (PackedAgg.colKeyParts,
            // incl. the CalendarKeyPart trunc kernels) applies instead of
            // the row-at-a-time path
            val aggInlined = agg0.child match {
              case p: org.apache.spark.sql.catalyst.plans.logical.Project
                  if aliasMap.values.forall(_.deterministic) =>
                def subst(e: Expression): Expression = e.transformUp {
                  case a: AttributeReference if aliasMap.contains(a.exprId) =>
                    aliasMap(a.exprId)
                }
                // top-level result identities (exprId + name) MUST survive
                // the inlining — downstream operators and the retained
                // sortOrder reference them; a bare attribute that the
                // Project defined re-wraps as an Alias keeping its exprId
                val inlRes: Seq[NamedExpression] = agg0.aggregateExpressions.map {
                  case al: Alias =>
                    al.copy(child = subst(al.child))(al.exprId, al.qualifier,
                      al.explicitMetadata, al.nonInheritableMetadataKeys)
                  case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
                    Alias(aliasMap(ar.exprId), ar.name)(ar.exprId, ar.qualifier)
                  case ne => ne
                }
                val inl = agg0.copy(
                  groupingExpressions = agg0.groupingExpressions.map(subst),
                  aggregateExpressions = inlRes)
                if (inl.references.subsetOf(p.child.outputSet)) inl.copy(child = p.child)
                else agg0
              case _ => agg0
            }
            scala.util.Try(DriverAgg.fromAggregate(aggInlined, order, limit = -1,
              maxGroups = 1 << 16, fallback = s,
              ansi = conf.ansiEnabled,
              allowDistinct = distincts.nonEmpty)).getOrElse(s)
          case _ => s
        }
    }
  }
}
