package graft.rules

import graft.{GraftConf, GraftRule}

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExprId}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Re-key the distinct-dedup exchange of a grouped `agg(DISTINCT d) GROUP
  * BY G` onto the grouping prefix G alone, making the second aggregation
  * exchange removable (guide §2.4 "remove shuffles outright"; reference:
  * DuckDB plans grouped distincts as ONE radix-partitioned breaker —
  * grouped_aggregate_data.cpp distinct towers share the groups' partition
  * layout, they never re-partition between dedup and count).
  *
  * Spark's `planAggregateWithOneDistinct` tower (no non-distinct aggs):
  *
  *   final(G, Final agg(d)) ← Ex(hash G) ← partial(G, Partial agg(d))
  *     ← dedupFinal(G+d) ← Ex(hash G+d) ← dedupPartial(G+d) ← child
  *
  * pays TWO exchanges and FOUR hash passes. Partitioning the dedup level
  * by G alone is sufficient for dedup correctness — every copy of a
  * (G, d) pair shares its G — and then the aggregate level above is
  * already clustered on G, so it needs no exchange and no partial/final
  * split at all:
  *
  *   complete(G, Complete agg(d)) ← dedupFinal(G+d) ← Ex(hash G)
  *     ← dedupPartial(G+d) ← child
  *
  * ONE exchange, THREE hash passes, identical shuffled bytes (the map
  * side still dedups before the exchange; only the hash key of the
  * partitioner changes — row payloads are the same (G, d) tuples).
  * TPC-H q16 is the motivating shape (count(DISTINCT ps_suppkey) GROUP
  * BY p_brand, p_type, p_size — three aggregation exchanges in the
  * executed plan, measured the dominant stages; PERF.md r15).
  *
  * The one way this can lose is SKEW (guide §2.5): hash(G) has fewer
  * distinct values than hash(G, d), so a hot G would serialize a
  * reducer. Guard: the product of the warm cache's per-column NDV lower
  * bounds over the G columns must cover `minKeyFactor ×` the shuffle
  * width (default 64× — the guide's 20-100× rule for key-to-partition
  * spread). Columns without NDV metadata (cold scans) decline — the
  * stock plan stays, which is always safe. Modes are strictly
  * Partial/Final (the distinct rewrite assigns the partial level fresh
  * resultIds, so the Complete conversion reuses the FINAL expressions —
  * their function inputs are the dedup output attrs, which the new
  * child still produces); the dedup levels must carry no aggregate
  * state (a non-distinct agg riding along plans PartialMerge buffers
  * the Complete conversion can't honor — decline).
  *
  * `spark.graft.disabled=DistinctByGroupPrefix` disables (A/B;
  * differential spec `DistinctByGroupPrefixSpec`).
  */
object DistinctByGroupPrefix extends GraftRule[SparkPlan] {
  /** NDV(G) lower-bound product from warm-cache column metadata; None if
    * any column lacks the sketch (then we cannot rule out skew).
    */
  private def ndvProduct(gs: Seq[Expression]): Option[Long] = {
    var prod = 1L
    val ok = gs.forall {
      case a: AttributeReference if a.metadata.contains("graft.ndvLow") =>
        val n = math.max(1L, a.metadata.getLong("graft.ndvLow"))
        prod = if (prod > Long.MaxValue / n) Long.MaxValue else prod * n
        true
      case _ => false
    }
    if (ok && gs.nonEmpty) Some(prod) else None
  }

  private def declined(reason: => String): Boolean = {
    logDebug(s"decline: $reason")
    false
  }

  private def guardsOk(fin: HashAggregateExec, pd: HashAggregateExec,
      dedupF: HashAggregateExec, dedupP: HashAggregateExec, m: Int): Boolean = {
    val aggsF = fin.aggregateExpressions
    val aggsP = pd.aggregateExpressions
    if (aggsF.isEmpty || !aggsF.forall(_.mode == Final)) return declined("fin modes")
    if (!aggsP.forall(_.mode == Partial)) return declined("pd modes")
    // the Complete conversion re-evaluates the FINAL expressions' update
    // path against the dedup output, so their function inputs must all
    // come from it (true by construction for the distinct rewrite)
    if (!aggsF.forall(_.aggregateFunction.references.subsetOf(dedupF.outputSet)))
      return declined("fin agg refs outside dedup output")
    if (!aggsF.forall(_.deterministic) ||
        !fin.groupingExpressions.forall(_.deterministic) ||
        !dedupP.groupingExpressions.forall(_.deterministic))
      return declined("non-deterministic")
    // the three grouping levels line up: dedupF and dedupP carry the
    // same (G, d) attrs; pd and fin carry the G subset
    if (dedupF.groupingExpressions.map(_.toAttribute.exprId) !=
        dedupP.groupingExpressions.map(_.toAttribute.exprId))
      return declined("dedup level attrs differ")
    if (pd.groupingExpressions.map(_.toAttribute.exprId) !=
        fin.groupingExpressions.map(_.toAttribute.exprId))
      return declined("pd/fin grouping attrs differ")
    val gIds = fin.groupingExpressions.map(_.toAttribute.exprId).toSet
    val dedupIds = dedupP.groupingExpressions.map(_.toAttribute.exprId)
    if (gIds.isEmpty || !gIds.subsetOf(dedupIds.toSet) ||
        dedupIds.length <= gIds.size)
      return declined("G not a strict prefix of dedup keys")
    // skew guard: proved key spread over the shuffle width, at least
    // `spark.graft.distinctPrefix.minKeyFactor` x the partition count
    val minKeyFactor = conf.getConf(GraftConf.DistinctPrefixKeyFactor)
    val gExprs = dedupP.groupingExpressions
      .filter(g => gIds.contains(g.toAttribute.exprId))
      .map { case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child; case x => x }
    ndvProduct(gExprs) match {
      case None => declined(s"no NDV metadata on ${gExprs.map(_.sql)}")
      case Some(p) if p < minKeyFactor * math.max(m, 1) =>
        declined(s"ndv product $p < ${minKeyFactor}x$m")
      case _ => true
    }
  }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    plan.transformUp {
      case fin @ HashAggregateExec(_, false, _, _, aggsF, aggAttrs, _, resultExprs,
            ShuffleExchangeExec(HashPartitioning(_, _),
              pd @ HashAggregateExec(_, false, _, _, _, _, _, _,
                dedupF @ HashAggregateExec(_, false, _, _, Nil, _, _, _,
                  ShuffleExchangeExec(HashPartitioning(_, m),
                    dedupP @ HashAggregateExec(_, false, _, _, Nil, _, _, _, _),
                    _, _))),
              _, _))
          if guardsOk(fin, pd, dedupF, dedupP, m) =>
        val gIds: Set[ExprId] = fin.groupingExpressions.map(_.toAttribute.exprId).toSet
        // G attrs as produced by the map-side dedup (exchange keys)
        val gPrefixAttrs: Seq[Attribute] = dedupP.groupingExpressions
          .filter(g => gIds.contains(g.toAttribute.exprId)).map(_.toAttribute)
        val ex2 = ShuffleExchangeExec(
          HashPartitioning(gPrefixAttrs, m), dedupP)
        val dedupF2 = dedupF.copy(
          requiredChildDistributionExpressions = Some(gPrefixAttrs),
          child = ex2)
        val complete = HashAggregateExec(
          requiredChildDistributionExpressions =
            Some(fin.groupingExpressions.map(_.toAttribute)),
          isStreaming = false,
          numShufflePartitions = fin.numShufflePartitions,
          groupingExpressions = fin.groupingExpressions,
          aggregateExpressions = aggsF.map(_.copy(mode = Complete)),
          aggregateAttributes = aggAttrs,
          initialInputBufferOffset = 0,
          resultExpressions = resultExprs,
          child = dedupF2)
        // thread the logical link so AQE replan substitutes the whole
        // rewritten tower (same threading as SinglePhaseAgg)
        fin.logicalLink.foreach { link =>
          ex2.setLogicalLink(link)
          dedupF2.setLogicalLink(link)
          complete.setLogicalLink(link)
        }
        complete
    }
  }
}
