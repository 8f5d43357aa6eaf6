package graft.rules

import graft.{GraftConf, GraftRule}
import graft.plans.{DriverAgg, PackedAgg, PackedFinalAggExec, PackedPartialAggExec}

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Descending, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Final, Min, Max, Partial, PartialMerge, Sum}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}

/** Replace `final HashAggregate ← key exchange ← partial HashAggregate`
  * with the packed-payload aggregate ([[graft.plans.PackedAgg]]) — every
  * key shape in the long-widenable and string domains, from a single
  * int/long/date/timestamp key (h2oai `GROUP BY id`) to composite and
  * string keys (ClickBench `GROUP BY UserID, SearchPhrase[, minute]`,
  * `count(DISTINCT string)` inner dedup exchanges).
  *
  * Why: in the groups≈rows regime the exchange moves one UnsafeRow per
  * (partition, group) and both aggregate passes hash every row through
  * an UnsafeRow map. The packed shape does one flat-state map pass and
  * ships per-bucket binary blobs (see PackedAgg's blob layout); in the
  * low-cardinality regime it degrades to the same map-side combine with
  * tiny blobs, so no cardinality estimate is needed for safety.
  *
  * Two arms: Final←exchange←Partial (evaluate result exprs per group)
  * and PartialMerge←exchange←Partial (emit buffer rows — the inner level
  * of Spark's distinct rewrite; the zero-aggregate form is the pure
  * dedup of `count(DISTINCT k)` and set-op distincts). The PartialMerge
  * replacement keeps the structural guarantee the distinct plan depends
  * on: every key lands in exactly one reducer (disjoint key-hash bucket
  * slices), so downstream per-partition distinct partials stay additive.
  *
  * A one-long-key Final pair under `ORDER BY key LIMIT n` gets the
  * partial's key prune ([[keyTopN]], the top-N-through-aggregate
  * pushdown's arm for this route) and a 4-partition bucket exchange.
  *
  * After a rewrite, [[EnsureRequirements]] re-runs: the packed final
  * demands clustering on `bucket` (inserting the bucket exchange), and
  * any parent relying on the replaced aggregate's key-hash output
  * partitioning gets a compensating exchange instead of silently wrong
  * co-partitioning.
  *
  * Registered as an AQE query-stage-prep rule (runs on the whole physical
  * plan, post-EnsureRequirements, before stages are carved at exchanges)
  * and applied directly in `InsertCacheColumnarToRow` for non-AQE
  * sessions. Idempotent: rewritten nodes are custom execs that cannot
  * rematch.
  */
object PackedShuffleAgg extends GraftRule[SparkPlan] {
  private def strip(e: Expression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  /** A partial/final pair packed can carry: keys in the long-widenable
    * or string domain, aligned with the exchange's hash keys, and
    * aggregates that compile to flat-state [[DriverAgg.layout]] slots
    * (layout() throws on unsupported aggregates; object-state slots —
    * string min/max — have no blob encoding).
    */
  private final case class Pair(fin: HashAggregateExec, merge: Boolean,
      gAttrs: Seq[Attribute], gPs: Seq[NamedExpression], n: Int,
      aggsF: Seq[AggregateExpression], gchild: SparkPlan, lay: DriverAgg.Layout)

  private def pair(p: SparkPlan): Option[Pair] = p match {
    case fin @ HashAggregateExec(_, false, _, gAttrsRaw, aggsF, _, _, _,
          ShuffleExchangeExec(HashPartitioning(pks, n),
            HashAggregateExec(_, false, _, gPs, aggsP, _, _, _, gchild), _, _))
        if gAttrsRaw.forall(_.isInstanceOf[Attribute]) &&
          (aggsF.forall(_.mode == Final) ||
            aggsF.nonEmpty && aggsF.forall(_.mode == PartialMerge)) &&
          aggsP.forall(_.mode == Partial) &&
          aggsF.map(_.resultId) == aggsP.map(_.resultId) =>
      val gAttrs = gAttrsRaw.map(_.asInstanceOf[Attribute])
      val keysOk = gAttrs.nonEmpty && gAttrs.length <= 64 &&
        gAttrs.forall(a => PackedAgg.supportedKey(a.dataType))
      val aligned = gPs.length == gAttrs.length && pks.length == gPs.length &&
        gPs.zip(gAttrs).forall { case (p, a) => p.toAttribute.exprId == a.exprId } &&
        pks.zip(gPs).forall { case (p, g) => p.semanticEquals(g.toAttribute) }
      if (!keysOk || !aligned) None
      else scala.util.Try(DriverAgg.layout(aggsP)).toOption.filter(_.flat).map { lay =>
        Pair(fin, aggsF.exists(_.mode == PartialMerge), gAttrs, gPs, n, aggsF, gchild, lay)
      }
    case _ => None
  }

  /** For a PartialMerge replacement the packed final must emit the exact
    * buffer schema the replaced node produced. Spark's buffer layouts
    * that map 1:1 onto DriverAgg slots: Count→[count: long],
    * Sum→[sum] (single-column form only — decimal/ANSI isEmpty-tracking
    * forms have 2 and are refused), Min/Max→[value],
    * Average→[sum: double, count: long]; the zero-aggregate dedup form
    * trivially qualifies. Anything else → no rewrite.
    */
  private def bufferShapeOk(aggs: Seq[AggregateExpression]): Boolean =
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

  /** The key prune packed applies to the pair under `t`, when both this
    * rule and [[TopNThroughAgg]] are on: `ORDER BY k LIMIT n` (n within
    * TopNThroughAgg's valve) directly over a Final pair packed claims,
    * grouped by the single long-widenable key `k`. The one place that
    * decides it — TopNThroughAgg's generic arm declines exactly these.
    */
  def keyTopN(t: TakeOrderedAndProjectExec): Option[PackedAgg.KeyTopN] = t match {
    case TakeOrderedAndProjectExec(limit, Seq(so), _, child, _)
        if limit > 0 && limit <= TopNThroughAgg.MaxLimit &&
          GraftConf.enabled(name) && GraftConf.enabled("TopNThroughAgg") =>
      pair(child).filter { p =>
        !p.merge && p.gAttrs.length == 1 &&
          PackedAgg.kindOf(p.gAttrs.head.dataType) == PackedAgg.KindLong &&
          (so.child match {
            case a: Attribute => TopNThroughAgg.underlying(p.fin.resultExpressions, a)
              .exists(_.exprId == p.gAttrs.head.exprId)
            case _ => false
          })
      }.map(_ => PackedAgg.KeyTopN(limit, so.direction == Descending))
    case _ => None
  }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    val tuning = graft.plans.PackedAgg.tuning()
    // parent pre-scan over the plan's TakeOrderedAndProjects (identity
    // maps — plan nodes, pre-rewrite):
    //  - a sort by an aggregate output (not a grouping prefix —
    //    TopNThroughAgg already claimed those) drains every group
    //    through its heap; with the no-reduction proof the single-phase
    //    plan measured faster, so those pairs are skipped;
    //  - a one-long-key `ORDER BY k LIMIT n` gets the partial's key prune
    val skipFinals = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val prunes = new java.util.IdentityHashMap[SparkPlan, PackedAgg.KeyTopN]()
    plan.foreach {
      case t @ TakeOrderedAndProjectExec(_, so, _,
            fin @ HashAggregateExec(_, false, _, gAttrs, aggsF, _, _, _,
              ShuffleExchangeExec(_,
                HashAggregateExec(_, false, _, gPs, _, _, _, _, gchild), _, _)), _) =>
        if (aggsF.forall(_.mode == Final) && so.nonEmpty &&
            !so.head.references.subsetOf(AttributeSet(gAttrs.map(_.toAttribute))) &&
            provedNoReduction(gPs, gchild)) skipFinals.add(fin)
        keyTopN(t).foreach(prunes.put(fin, _))
      case _ => ()
    }
    var changed = false
    val rewritten = plan.transformUp {
      case fin: HashAggregateExec => pair(fin) match {
        case Some(p) if p.merge && (!bufferShapeOk(p.aggsF) ||
            // the PartialMerge consumer (the distinct rewrite's next
            // aggregate level) always drains every group — decline on
            // the no-reduction proof (see provedNoReduction)
            provedNoReduction(p.gPs, p.gchild)) => fin
        case Some(p) if !skipFinals.contains(fin) =>
          changed = true
          val lay = p.lay
          val partial = PackedPartialAggExec(p.gPs.map(strip),
            p.gAttrs.map(_.dataType), lay.inputs, lay.slots,
            lay.nL, lay.nD, lay.nF,
            buckets = 4 * math.max(p.n, 1),
            PackedPartialAggExec.freshOutput(), p.gchild, columnarChild = false,
            ansi = conf.ansiEnabled, tuning = tuning,
            topN = Option(prunes.get(fin)))
          val fin2 =
            if (!p.merge) PackedFinalAggExec(p.gAttrs, lay.slots, lay.aggTypes,
              lay.nL, lay.nD, lay.nF, fin.aggregateAttributes, fin.resultExpressions,
              fin.output, partial, ansi = conf.ansiEnabled)
            else PackedFinalAggExec(p.gAttrs, lay.slots,
              p.aggsF.map(_.aggregateFunction.inputAggBufferAttributes.head.dataType),
              lay.nL, lay.nD, lay.nF,
              p.aggsF.flatMap(_.aggregateFunction.inputAggBufferAttributes),
              fin.resultExpressions, fin.output, partial,
              bufferMode = true, ansi = conf.ansiEnabled)
          // AQE re-optimization maps a materialized stage back to a
          // logical node through logicalLink, then substitutes
          // LogicalQueryStage(link, topmost physical node carrying the
          // same link). Without links on these nodes the bucket stage
          // falls back to the link of the subtree BELOW the aggregate,
          // and the replan plants a fresh HashAggregate on top of the
          // packed-blob stage. Linking both nodes to the replaced
          // aggregate's logical node makes the substitution cover the
          // whole packed pair, exactly as Spark's own pair is covered.
          fin.logicalLink.foreach { link =>
            partial.setLogicalLink(link)
            fin2.setLogicalLink(link)
          }
          fin2
        case _ => fin
      }
    }
    // ORDER-BY-aggregate LIMIT sink: retain only the per-partition top-K
    // during the packed final's emission (plans/PackedAgg.PackedTopK) —
    // the TakeOrderedAndProject above still merges partitions and applies
    // projection/offset. Matched in a second pass so the pair rewrite
    // above is already in place; idempotent via topK.isEmpty.
    val topKed = rewritten.transformUp {
      case t @ TakeOrderedAndProjectExec(limit, so, _, fin: PackedFinalAggExec, _)
          if limit > 0 && limit <= (1 << 16) && fin.topK.isEmpty &&
            so.nonEmpty && so.forall(_.references.subsetOf(fin.outputSet)) =>
        val fin2 = fin.copy(topK = Some(graft.plans.PackedTopK(limit, so)))
        fin.logicalLink.foreach(fin2.setLogicalLink)
        t.withNewChildren(Seq(fin2))
    }
    if (!changed) return topKed
    new EnsureRequirements(true, None).apply(topKed).transformUp {
      // the bucket exchange EnsureRequirements just inserted: thread the
      // partial's logical link onto it (setLogicalLink early-returns on
      // tagged nodes, so the final's link never reaches a later-inserted
      // child). Under a key prune ≤ limit keys survive per map task, so
      // a wide exchange costs more in per-task stream opens
      // (bypass-merge writes one stream per reduce partition) than the
      // reduce side could ever win — shrink it to 4 partitions
      case e @ ShuffleExchangeExec(hp: HashPartitioning, p: PackedPartialAggExec, _, _)
          if e.logicalLink.isEmpty =>
        val e2 =
          if (p.topN.isEmpty || hp.numPartitions <= 4) e
          else e.copy(outputPartitioning = hp.copy(numPartitions = 4))
        p.logicalLink.foreach(e2.setLogicalLink)
        e2
    }
  }
}
