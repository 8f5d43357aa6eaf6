package graft.rules

import graft.plans.{DriverAgg, PackedAgg, PackedFinalAggExec, PackedPartialAggExec, RadixAgg}

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Final, Min, Max, Partial, PartialMerge, Sum}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}

/** Replace `final HashAggregate ← key exchange ← partial HashAggregate`
  * over MULTIPLE grouping keys (or any string key) with the multi-key
  * packed-payload aggregate ([[graft.plans.PackedAgg]]) — the companion
  * of [[RadixShuffleAgg]] for the composite/string-keyed surface
  * (ClickBench `GROUP BY UserID, SearchPhrase[, minute]`,
  * `count(DISTINCT string)` inner dedup exchanges).
  *
  * Why: in the groups≈rows regime the exchange moves one UnsafeRow per
  * (partition, group) and both aggregate passes hash every row through
  * an UnsafeRow map. The packed shape does one flat-state map pass and
  * ships per-bucket binary blobs (see PackedAgg's blob layout); in the
  * low-cardinality regime it degrades to the same map-side combine with
  * tiny blobs, so no cardinality estimate is needed for safety.
  *
  * Single int/long-keyed shapes are left to [[RadixShuffleAgg]] (which
  * runs FIRST — this rule only matches what radix structurally cannot:
  * ≥2 keys, or a string key). Two arms, mirroring radix:
  * Final←exchange←Partial (evaluate result exprs per group) and
  * PartialMerge←exchange←Partial (emit buffer rows — the inner level of
  * Spark's distinct rewrite; the zero-aggregate form is the pure dedup
  * of `count(DISTINCT k)` and set-op distincts). The PartialMerge
  * replacement keeps the structural guarantee the distinct plan depends
  * on: every composite key lands in exactly one reducer (disjoint
  * key-hash bucket slices), so downstream per-partition distinct
  * partials stay additive.
  *
  * After a rewrite, [[EnsureRequirements]] re-runs: the packed final
  * demands clustering on `bucket` (inserting the bucket exchange), and
  * any parent relying on the replaced aggregate's key-hash output
  * partitioning gets a compensating exchange instead of silently wrong
  * co-partitioning.
  */
object PackedShuffleAgg extends Rule[SparkPlan] {
  // dev escape hatch for A/B timing (GRAFT_NO_PACKED_AGG=1 disables)
  @volatile var enabled = !sys.env.get("GRAFT_NO_PACKED_AGG").contains("1")

  private def strip(e: Expression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  /** The shapes radix leaves behind that packed can carry: every key in
    * the long-widenable or string domain, and NOT the single int/long
    * key radix already owns.
    */
  private def keysOk(gAttrs: Seq[Attribute]): Boolean =
    gAttrs.nonEmpty && gAttrs.length <= 64 &&
      gAttrs.forall(a => PackedAgg.supportedKey(a.dataType)) &&
      !(gAttrs.length == 1 && RadixAgg.supportedKey(gAttrs.head.dataType))

  private def aligned(gPs: Seq[NamedExpression], gAttrs: Seq[Attribute],
      pks: Seq[Expression]): Boolean =
    gPs.length == gAttrs.length && pks.length == gPs.length &&
      gPs.zip(gAttrs).forall { case (p, a) => p.toAttribute.exprId == a.exprId } &&
      pks.zip(gPs).forall { case (p, g) => p.semanticEquals(g.toAttribute) }

  /** For a PartialMerge replacement the packed final must emit the exact
    * buffer schema the replaced node produced (see RadixShuffleAgg's
    * bufferShapeOk — same constraint, plus the zero-aggregate dedup form
    * which trivially satisfies it).
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

  /** The stats proof that the partial cannot reduce (groups≈rows) over
    * a row-preserving chain — [[SinglePhaseAgg]]'s premise, reused for
    * routing: in that regime the packed exchange's byte savings measured
    * a wash against its merge-side overhead when the CONSUMER drains
    * every group (A/B'd at x100 hits: ORDER-BY-count LIMIT 1.38×,
    * distinct-piggyback inner dedup 1.17×), while lazy/limited sinks
    * keep winning (dedup+LIMIT 0.65×). So packed declines exactly the
    * proved-no-reduction pairs whose parent drains all groups, and
    * SinglePhaseAgg (registered after) claims them.
    */
  private def provedNoReduction(gPs: Seq[NamedExpression], gchild: SparkPlan): Boolean =
    SinglePhaseAgg.provedHighCardinality(gPs) &&
      SinglePhaseAgg.rowPreservingScanChain(gchild)

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!enabled) return plan
    // Final-arm parent pre-scan: a TakeOrderedAndProject sorting by an
    // aggregate output (not a grouping prefix — TopNThroughAgg already
    // claimed those) drains every group through its heap; with the
    // no-reduction proof the single-phase plan measured faster, so those
    // specific pairs are skipped (identity set — plan nodes, pre-rewrite)
    val skipFinals = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    plan.foreach {
      case org.apache.spark.sql.execution.TakeOrderedAndProjectExec(_, so, _,
            fin @ HashAggregateExec(_, false, _, gAttrs, aggsF, _, _, _,
              ShuffleExchangeExec(_,
                HashAggregateExec(_, false, _, gPs, _, _, _, _, gchild), _, _)), _)
          if aggsF.forall(_.mode == Final) && so.nonEmpty &&
            !so.head.references.subsetOf(
              org.apache.spark.sql.catalyst.expressions.AttributeSet(
                gAttrs.map(_.toAttribute))) &&
            provedNoReduction(gPs, gchild) =>
        skipFinals.add(fin)
      case _ => ()
    }
    var changed = false
    val rewritten = plan.transformUp {
      case fin @ HashAggregateExec(_, false, _, gAttrsRaw, aggsF, aggAttrs, _,
            resultExprs,
            ShuffleExchangeExec(HashPartitioning(pks, n),
              HashAggregateExec(_, false, _, gPs, aggsP, _, _, _, gchild), _, _))
          if gAttrsRaw.forall(_.isInstanceOf[Attribute]) &&
            aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            keysOk(gAttrsRaw.map(_.asInstanceOf[Attribute])) &&
            aligned(gPs, gAttrsRaw.map(_.asInstanceOf[Attribute]), pks) &&
            !skipFinals.contains(fin) =>
        val gAttrs = gAttrsRaw.map(_.asInstanceOf[Attribute])
        // layout() throws on unsupported aggregates; object-state slots
        // (string min/max) have no blob encoding
        scala.util.Try(DriverAgg.layout(aggsP)).toOption.filter(_.flat) match {
          case Some(lay) =>
            changed = true
            val partial = PackedPartialAggExec(gPs.map(strip),
              gAttrs.map(_.dataType), lay.inputs, lay.slots,
              lay.nL, lay.nD, lay.nF,
              buckets = 4 * math.max(n, 1),
              PackedPartialAggExec.freshOutput(), gchild, columnarChild = false,
              ansi = conf.ansiEnabled)
            val fin2 = PackedFinalAggExec(gAttrs, lay.slots, lay.aggTypes,
              lay.nL, lay.nD, lay.nF, aggAttrs, resultExprs, fin.output, partial,
              ansi = conf.ansiEnabled)
            // same logical-link threading as RadixShuffleAgg: AQE replan
            // must substitute the whole packed pair, not the subtree below
            fin.logicalLink.foreach { link =>
              partial.setLogicalLink(link)
              fin2.setLogicalLink(link)
            }
            fin2
          case None => fin
        }

      case fin @ HashAggregateExec(_, false, _, gAttrsRaw, aggsF, _, _,
            resultExprs,
            ShuffleExchangeExec(HashPartitioning(pks, n),
              HashAggregateExec(_, false, _, gPs, aggsP, _, _, _, gchild), _, _))
          if gAttrsRaw.forall(_.isInstanceOf[Attribute]) &&
            aggsF.forall(_.mode == PartialMerge) &&
            aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            keysOk(gAttrsRaw.map(_.asInstanceOf[Attribute])) &&
            aligned(gPs, gAttrsRaw.map(_.asInstanceOf[Attribute]), pks) &&
            bufferShapeOk(aggsF) &&
            // the PartialMerge consumer (the distinct rewrite's next
            // aggregate level) always drains every group — decline on
            // the no-reduction proof (see provedNoReduction)
            !provedNoReduction(gPs, gchild) =>
        val gAttrs = gAttrsRaw.map(_.asInstanceOf[Attribute])
        scala.util.Try(DriverAgg.layout(aggsP)).toOption.filter(_.flat) match {
          case Some(lay) =>
            changed = true
            val partial = PackedPartialAggExec(gPs.map(strip),
              gAttrs.map(_.dataType), lay.inputs, lay.slots,
              lay.nL, lay.nD, lay.nF,
              buckets = 4 * math.max(n, 1),
              PackedPartialAggExec.freshOutput(), gchild, columnarChild = false,
              ansi = conf.ansiEnabled)
            val bufAttrs = aggsF.flatMap(_.aggregateFunction.inputAggBufferAttributes)
            val bufTypes = aggsF.map(_.aggregateFunction.inputAggBufferAttributes.head.dataType)
            val fin2 = PackedFinalAggExec(gAttrs, lay.slots, bufTypes,
              lay.nL, lay.nD, lay.nF, bufAttrs, resultExprs, fin.output, partial,
              bufferMode = true, ansi = conf.ansiEnabled)
            fin.logicalLink.foreach { link =>
              partial.setLogicalLink(link)
              fin2.setLogicalLink(link)
            }
            fin2
          case None => fin
        }
    }
    // ORDER-BY-aggregate LIMIT sink: retain only the per-partition top-K
    // during the packed final's emission (plans/PackedAgg.PackedTopK) —
    // the TakeOrderedAndProject above still merges partitions and applies
    // projection/offset. Matched in a second pass so the pair rewrite
    // above is already in place; idempotent via topK.isEmpty.
    val topKed = rewritten.transformUp {
      case t @ org.apache.spark.sql.execution.TakeOrderedAndProjectExec(
            limit, so, _, fin: graft.plans.PackedFinalAggExec, _)
          if limit > 0 && limit <= (1 << 16) && fin.topK.isEmpty &&
            so.nonEmpty && so.forall(_.references.subsetOf(fin.outputSet)) =>
        val fin2 = fin.copy(topK = Some(graft.plans.PackedTopK(limit, so)))
        fin.logicalLink.foreach(fin2.setLogicalLink)
        t.withNewChildren(Seq(fin2))
    }
    if (!changed) return topKed
    val ensured = new EnsureRequirements(true, None).apply(topKed)
    // thread the logical link onto the bucket exchange EnsureRequirements
    // just inserted (setLogicalLink early-returns on tagged nodes)
    ensured.foreach {
      case e: ShuffleExchangeExec if e.logicalLink.isEmpty =>
        e.child match {
          case p: PackedPartialAggExec => p.logicalLink.foreach(e.setLogicalLink)
          case _ =>
        }
      case _ =>
    }
    ensured
  }
}
