package graft.rules

import graft.plans.{DriverAgg, RadixAgg, RadixFinalAggExec, RadixPartialAggExec}

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Final, Min, Max, Partial, PartialMerge, Sum}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}

/** Replace `final HashAggregate ← key exchange ← partial HashAggregate`
  * over a SINGLE int/long grouping key with the radix-bucketed
  * packed-state aggregate ([[graft.plans.RadixAgg]]).
  *
  * Why: in the high-cardinality regime (groups within a constant factor
  * of rows — h2oai `GROUP BY id` shapes) the partial pass barely reduces,
  * so Spark's plan pays TWO UnsafeRow hash-map passes over ~every row
  * plus a one-row-per-(partition, group) shuffle. The radix shape does
  * one flat-state map pass and ships packed per-bucket blobs; in the
  * low-cardinality regime it degrades to exactly the map-side-combine
  * the replaced plan had (tiny blobs, same single exchange), so the
  * rewrite does not need a cardinality estimate to be safe — only the
  * supported-surface checks below.
  *
  * Match guards: Final/Partial adjacency with aligned resultIds, the
  * exchange hash-partitions on exactly the partial's single grouping
  * column, key widens losslessly to long, and every aggregate compiles
  * to a flat-state [[DriverAgg.layout]] slot (count/sum/avg/min/max and
  * the variance/stddev/covariance moments over primitives; no DISTINCT —
  * distinct rewrites plan PartialMerge, whose buffer shapes
  * [[bufferShapeOk]] limits to count/sum/avg/min/max). FILTER clauses
  * are declined here (see [[noFilter]]). After a rewrite,
  * [[EnsureRequirements]] re-runs over the plan:
  * the new final demands clustering on `bucket` (inserting the bucket
  * exchange), and any parent that relied on the replaced aggregate's
  * key-hash output partitioning gets a compensating exchange instead of
  * silently wrong co-partitioning.
  *
  * Registered as an AQE query-stage-prep rule (runs on the whole physical
  * plan, post-EnsureRequirements, before stages are carved at exchanges)
  * and applied directly in `InsertCacheColumnarToRow` for non-AQE
  * sessions. Idempotent: rewritten nodes are custom execs that cannot
  * rematch.
  */
object RadixShuffleAgg extends Rule[SparkPlan] {
  // dev escape hatch for A/B timing (GRAFT_NO_RADIX_AGG=1 disables)
  @volatile var enabled = !sys.env.get("GRAFT_NO_RADIX_AGG").contains("1")

  private def strip(e: Expression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  /** For a PartialMerge replacement the radix final must emit the exact
    * buffer schema the replaced node produced. Spark's buffer layouts
    * that map 1:1 onto DriverAgg slots: Count→[count: long],
    * Sum→[sum] (single-column form only — decimal/ANSI isEmpty-tracking
    * forms have 2 and are refused), Min/Max→[value],
    * Average→[sum: double, count: long]. Anything else → no rewrite.
    */
  private def bufferShapeOk(aggs: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]): Boolean =
    aggs.forall { ae =>
      val bufTypes = ae.aggregateFunction.inputAggBufferAttributes.map(_.dataType)
      ae.aggregateFunction match {
        case _: Count => bufTypes == Seq(org.apache.spark.sql.types.LongType)
        case _: Sum | _: Min | _: Max => bufTypes.length == 1
        case _: Average => bufTypes == Seq(org.apache.spark.sql.types.DoubleType,
          org.apache.spark.sql.types.LongType)
        case _ => false
      }
    }

  /** FILTER folds stay on Spark's plan for this route: the batch loop
    * reads direct columns only, so a folded `If(p, x, NULL)` input would
    * put every row through the interpreted row partial, which has not
    * been measured against Spark's codegen'd partial on this shape (the
    * packed route reads the IsNotNull form of the fold batch-direct).
    */
  private def noFilter(
      aggs: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]) =
    aggs.forall(_.filter.isEmpty)

  /** The supported-surface check: layout() throws on unsupported
    * aggregates, and object-state slots (string min/max) have no blob
    * encoding.
    */
  private def flatLayout(
      aggs: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]) =
    scala.util.Try(DriverAgg.layout(aggs)).toOption.filter(_.flat)

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!enabled) return plan
    var changed = false
    val rewritten = plan.transformUp {
      case fin @ HashAggregateExec(_, false, _, Seq(gAttr: Attribute), aggsF, aggAttrs, _,
            resultExprs,
            ShuffleExchangeExec(HashPartitioning(Seq(pk), n),
              HashAggregateExec(_, false, _, Seq(gP), aggsP, _, _, _, gchild), _, _))
          if aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            gP.toAttribute.exprId == gAttr.exprId &&
            pk.semanticEquals(gP.toAttribute) &&
            RadixAgg.supportedKey(gAttr.dataType) && noFilter(aggsP) =>
        flatLayout(aggsP) match {
          case Some(lay) =>
            changed = true
            val partial = RadixPartialAggExec(strip(gP), gAttr.dataType,
              lay.inputs, lay.slots, lay.nL, lay.nD, lay.nF,
              buckets = 4 * math.max(n, 1),
              RadixPartialAggExec.freshOutput(), gchild, columnarChild = false,
              ansi = conf.ansiEnabled)
            val fin2 = RadixFinalAggExec(lay.slots, lay.aggTypes, lay.nL, lay.nD, lay.nF,
              gAttr, aggAttrs, resultExprs, fin.output, partial,
              ansi = conf.ansiEnabled)
            // AQE re-optimization maps a materialized stage back to a
            // logical node through logicalLink, then substitutes
            // LogicalQueryStage(link, topmost physical node carrying the
            // same link). Without links on these nodes the bucket stage
            // falls back to the link of the subtree BELOW the aggregate,
            // and the replan plants a fresh HashAggregate on top of the
            // packed-blob stage — binding the grouping key against
            // [bucket, keys, state, has_null]. Linking both nodes to the
            // replaced aggregate's logical node makes the substitution
            // cover the whole radix pair, exactly as Spark's own
            // partial/final pair is covered.
            fin.logicalLink.foreach { link =>
              partial.setLogicalLink(link)
              fin2.setLogicalLink(link)
            }
            fin2
          case None => fin
        }

      // PartialMerge over the key exchange — the inner level of Spark's
      // single-distinct rewrite (group-by-distinct-key partial, merged
      // per key slice before the distinct count). The radix replacement
      // keeps the structural guarantee the distinct plan depends on:
      // every key lands in exactly one reducer (disjoint bucket slices),
      // so downstream per-partition distinct partials stay additive.
      case fin @ HashAggregateExec(_, false, _, Seq(gAttr: Attribute), aggsF, _, _,
            resultExprs,
            ShuffleExchangeExec(HashPartitioning(Seq(pk), n),
              HashAggregateExec(_, false, _, Seq(gP), aggsP, _, _, _, gchild), _, _))
          if aggsF.nonEmpty && aggsF.forall(_.mode == PartialMerge) &&
            aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            gP.toAttribute.exprId == gAttr.exprId &&
            pk.semanticEquals(gP.toAttribute) &&
            RadixAgg.supportedKey(gAttr.dataType) &&
            bufferShapeOk(aggsF) && noFilter(aggsP) =>
        flatLayout(aggsP) match {
          case Some(lay) =>
            changed = true
            val partial = RadixPartialAggExec(strip(gP), gAttr.dataType,
              lay.inputs, lay.slots, lay.nL, lay.nD, lay.nF,
              buckets = 4 * math.max(n, 1),
              RadixPartialAggExec.freshOutput(), gchild, columnarChild = false,
              ansi = conf.ansiEnabled)
            val bufAttrs = aggsF.flatMap(_.aggregateFunction.inputAggBufferAttributes)
            val bufTypes = aggsF.map(_.aggregateFunction.inputAggBufferAttributes.head.dataType)
            val fin2 = RadixFinalAggExec(lay.slots, bufTypes, lay.nL, lay.nD, lay.nF,
              gAttr, bufAttrs, resultExprs, fin.output, partial, bufferMode = true,
              ansi = conf.ansiEnabled)
            fin.logicalLink.foreach { link =>
              partial.setLogicalLink(link)
              fin2.setLogicalLink(link)
            }
            fin2
          case None => fin
        }
    }
    if (!changed) return plan
    val ensured = new EnsureRequirements(true, None).apply(rewritten)
    // the bucket exchange EnsureRequirements just inserted needs the same
    // logical link (setLogicalLink early-returns on tagged nodes, so the
    // propagation from the final never reaches a LATER-inserted child)
    ensured.foreach {
      case e: ShuffleExchangeExec if e.logicalLink.isEmpty =>
        e.child match {
          case p: RadixPartialAggExec => p.logicalLink.foreach(e.setLogicalLink)
          case _ =>
        }
      case _ =>
    }
    ensured
  }
}
