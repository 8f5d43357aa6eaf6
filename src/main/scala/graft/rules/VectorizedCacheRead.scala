package graft.rules

import graft.plans.CachedBroadcastExec
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.{ColumnarRule, ColumnarToRowExec, SparkPlan}

/** Prefer vectorized reads of the in-memory columnar cache.
  *
  * Spark's transition insertion (`ApplyColumnarRulesAndInsertTransitions`)
  * only adds a `ColumnarToRow` above operators that are columnar-ONLY.
  * `InMemoryTableScanExec.supportsRowBased` is hard-wired `true`, so even
  * when the cache serializer can serve `ColumnarBatch`es the planner picks
  * the row-at-a-time decode path. With the graft cache serializer
  * (plans/ColumnarCache.scala) the columnar read is a zero-copy array view,
  * so the batch path + codegen'd `ColumnarToRow` is strictly faster than
  * per-row projection. This rule wraps every columnar-capable cache scan
  * explicitly; `CollapseCodegenStages` then fuses the transition into the
  * enclosing whole-stage-codegen pipeline.
  */
object VectorizedCacheRead extends ColumnarRule {
  override def postColumnarTransitions: Rule[SparkPlan] = InsertCacheColumnarToRow
}

private object DriverAggFold
    extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  def conjuncts(cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    splitConjunctivePredicates(cond)
}

object InsertCacheColumnarToRow extends Rule[SparkPlan] {
  // dev escape hatch for A/B timing (GRAFT_NO_VECTOR_READ=1 disables)
  @volatile var enabled = !sys.env.get("GRAFT_NO_VECTOR_READ").contains("1")
  // streaming lag-window specialization (plans/StreamingWindow.scala);
  // GRAFT_NO_STREAM_WINDOW=1 reverts to WindowExec for A/B + differential specs
  @volatile var streamWindowEnabled =
    !sys.env.get("GRAFT_NO_STREAM_WINDOW").contains("1")
  // driver-agg batch-direct partial (GRAFT_NO_DRIVERAGG_COLUMNAR=1
  // reverts to the row partial for A/B + differential specs)
  @volatile var driverAggColumnarEnabled =
    !sys.env.get("GRAFT_NO_DRIVERAGG_COLUMNAR").contains("1")
  /** Wrap columnar-capable cache scans, skipping scans already under a
    * ColumnarToRowExec (AQE stage re-preparation or a second application
    * of this rule would otherwise double-wrap: the outer transition's
    * child would no longer supportsColumnar and fail at runtime).
    */
  private def insertTransitions(p: SparkPlan): SparkPlan = p match {
    case c @ ColumnarToRowExec(_: InMemoryTableScanExec) => c
    case c @ ColumnarToRowExec(
      _: org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec) => c
    case scan: InMemoryTableScanExec if scan.supportsColumnar =>
      ColumnarToRowExec(scan)
    // AQE wraps the cache scan in a TableCacheQueryStageExec and serves
    // it ROW-based to the parent fragment unless a transition is added —
    // same vectorization gap as the bare scan, same fix
    case stage: org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
        if stage.supportsColumnar =>
      ColumnarToRowExec(stage)
    case other => other.withNewChildren(other.children.map(insertTransitions))
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    // single-pass aggregation where the exchange was elided (clustered
    // cache / bucketed input) — see CollapsePartialAggregate
    val collapsed = CollapsePartialAggregate(plan)
    // high-cardinality single-key aggregation: radix-bucketed packed-state
    // shuffle (rules/RadixShuffleAgg). Under AQE this rule runs as a
    // query-stage-prep rule instead (here we only ever see single-stage
    // fragments whose exchanges are already stage boundaries).
    // under AQE only TopNThroughAgg's sorted-input arm can act here (a
    // stage fragment holds no raw exchanges; the radix/generic arms ran
    // as query-stage-prep rules) — it must run HERE because the
    // Complete-mode aggregate it matches is created by the collapse above
    // rule order: radix claims single int/long-key pairs; TopNThroughAgg
    // then prunes ORDER-BY-grouping-prefix LIMIT pairs (its generic arm
    // must see the stock pair BEFORE packed consumes it); packed claims
    // the remaining multi/string-key pairs; single-phase takes whatever
    // aggregation pairs are left with a stats proof
    // string-key broadcast joins re-route before the agg rules (under
    // AQE this ran as a query-stage-prep rule already)
    // int-key chains fuse FIRST (they claim whole spines of consecutive
    // joins); string-key joins then route the remaining singles
    val strJoined =
      if (conf.adaptiveExecutionEnabled) collapsed
      else StringBcastJoinRule(IntChainJoinRule(collapsed))
    // grouped-distinct prefix re-key must see the stock 4-level tower
    // BEFORE radix/packed claim its dedup pair (same order as the AQE
    // query-stage-prep registration in GraftExtensions)
    val radixed =
      if (conf.adaptiveExecutionEnabled) TopNThroughAgg(strJoined)
      else TopKSinglePhase(
        SinglePhaseAgg(PackedShuffleAgg(TopNThroughAgg(RadixShuffleAgg(
          DistinctByGroupPrefix(strJoined))))))
    // run-clustered Complete aggregates (created by the collapse above)
    // stream per sorted-prefix run instead of building the whole
    // partition's group map (plans/SortedRunAgg.scala)
    val runAgged = SortedRunAggRule(radixed)
    // lag-only windows evaluate streaming (runs after EnsureRequirements,
    // so the child's clustering/ordering are already window-correct)
    val windowed =
      if (!streamWindowEnabled) runAgged
      else runAgged.transformUp {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if graft.plans.StreamingWindowExec.supports(w) =>
          graft.plans.StreamingWindowExec(
            w.windowExpression, w.partitionSpec, w.orderSpec, w.child)
      }
    // lag-gap sessionize count collapses to one primitive loop (runs
    // after the streaming-window rewrite it matches on)
    val sessionFused = SessionCountRule(windowed)
    val vectorized =
      if (!enabled) sessionFused
      else DictFilterScan(insertTransitions(sessionFused))
    // fused-distinct partial stage consumes the cache's batches directly:
    // peel the just-inserted ColumnarToRow so the update loop runs over
    // long arrays instead of materialized rows (plans/FusedDistinct.scala)
    val fusedColumnar = vectorized.transformUp {
      case f @ graft.plans.FusedDistinctPartialExec(
            _, _, _, _, ColumnarToRowExec(c), false) if c.supportsColumnar =>
        f.copy(child = c, columnarChild = true)
      // radix partial consumes batches directly when key + inputs are
      // plain columns of a columnar-capable child — a cache scan under
      // the ColumnarToRow just inserted above, or (AQE) the
      // TableCacheQueryStageExec wrapping one (plans/RadixAgg.scala)
      case r: graft.plans.RadixPartialAggExec if !r.columnarChild =>
        r.child match {
          case ColumnarToRowExec(c) if c.supportsColumnar && r.columnarEligible(c) =>
            r.copy(child = c, columnarChild = true)
          case c if c.supportsColumnar && r.columnarEligible(c) =>
            r.copy(columnarChild = true)
          case _ => r
        }
      // packed multi-key partial: same batch-direct rewire when every
      // key and input is a plain column of a columnar-capable child; a
      // CacheFilter child folds INTO the batch loop as a per-batch
      // DictSelection (no row materialization between filter and partial)
      case r: graft.plans.PackedPartialAggExec if !r.columnarChild =>
        r.child match {
          case graft.plans.CacheFilterExec(_, conjuncts, c)
              if graft.plans.PackedAgg.selectionFoldEnabled &&
                c.supportsColumnar && r.columnarEligible(c) =>
            r.copy(child = c, columnarChild = true, selection = conjuncts)
          case ColumnarToRowExec(c) if c.supportsColumnar && r.columnarEligible(c) =>
            r.copy(child = c, columnarChild = true)
          case c if c.supportsColumnar && r.columnarEligible(c) =>
            r.copy(columnarChild = true)
          case _ => r
        }
      // sorted-run aggregate: batch-direct when prefix/key/inputs are
      // plain numeric columns of a columnar-capable child; a folded
      // dict-filter pushes its selection INTO the batch loop so the
      // filtered aggregation never materializes rows
      case s: graft.plans.SortedRunAggExec if !s.columnarChild =>
        s.child match {
          case graft.plans.CacheFilterExec(_, conjuncts, c)
              if c.supportsColumnar && s.columnarEligible(c) =>
            s.copy(child = c, columnarChild = true, selection = conjuncts)
          case ColumnarToRowExec(c) if c.supportsColumnar && s.columnarEligible(c) =>
            s.copy(child = c, columnarChild = true)
          case c if c.supportsColumnar && s.columnarEligible(c) =>
            s.copy(columnarChild = true)
          case _ => s
        }
      // int-key chain join: batch-direct probe when the base is
      // columnar-capable (same peel contract)
      case c: graft.plans.IntChainJoinExec if !c.columnarChild =>
        c.base match {
          case ColumnarToRowExec(x) if x.supportsColumnar =>
            c.copy(base = x, columnarChild = true)
          case x if x.supportsColumnar => c.copy(columnarChild = true)
          case _ => c
        }
      // string-key broadcast join: batch-direct probe when the streamed
      // side is columnar-capable (same peel contract)
      case s: graft.plans.StringBcastJoinExec if !s.columnarChild =>
        s.left match {
          case ColumnarToRowExec(c) if c.supportsColumnar =>
            s.copy(left = c, columnarChild = true)
          case c if c.supportsColumnar => s.copy(columnarChild = true)
          case _ => s
        }
      // fused single-distinct partial: same batch-direct contract
      case s: graft.plans.SingleDistinctPartialExec if !s.columnarChild =>
        s.child match {
          case ColumnarToRowExec(c) if c.supportsColumnar && s.columnarEligible(c) =>
            s.copy(child = c, columnarChild = true)
          case c if c.supportsColumnar && s.columnarEligible(c) =>
            s.copy(columnarChild = true)
          case _ => s
        }
      // driver-finalized low-card aggregate: batch-direct partial when the
      // group keys columnar-translate (plans/DriverAgg.colKeyParts). A
      // Filter (or dict-filter) child over the cache scan folds INTO the
      // partial as a per-batch selection — the loop then filters,
      // dict-keys, and accumulates in one pass with no row
      // materialization between scan and aggregate (the reference's
      // selection-vector path through its table scan into the aggregate).
      case d: graft.plans.DriverGroupAggExec
          if driverAggColumnarEnabled && !d.columnarChild =>
        import org.apache.spark.sql.execution.FilterExec
        def foldable(cond: org.apache.spark.sql.catalyst.expressions.Expression,
            c: SparkPlan): Boolean =
          graft.plans.DriverAgg.aggSelectionEnabled && cond.deterministic &&
            !cond.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) &&
            cond.references.subsetOf(c.outputSet)
        d.child match {
          case graft.plans.CacheFilterExec(_, conjuncts, c)
              if graft.plans.DriverAgg.aggSelectionEnabled &&
                c.supportsColumnar && d.columnarEligible(c) =>
            d.copy(child = c, columnarChild = true, selection = conjuncts)
          case FilterExec(cond, ColumnarToRowExec(c))
              if c.supportsColumnar && d.columnarEligible(c) && foldable(cond, c) =>
            d.copy(child = c, columnarChild = true,
              selection = DriverAggFold.conjuncts(cond))
          case ColumnarToRowExec(c) if c.supportsColumnar && d.columnarEligible(c) =>
            d.copy(child = c, columnarChild = true)
          case c if c.supportsColumnar && d.columnarEligible(c) =>
            d.copy(columnarChild = true)
          case _ => d
        }
    }
    // a TakeOrderedAndProject directly above a direct-loop sorted-run
    // aggregate fuses into its drain as a partition-local bounded heap
    // (runs AFTER the batch/row wiring above — the fused paths exist
    // only for the direct loops)
    val topFused = SortedRunAggRule.fuseTopN(fusedColumnar)
    // cross-execution dimension broadcast cache (warm mode, AQE off only —
    // see plans/CachedBroadcast.scala)
    val bcached =
      if (!graft.Tables.cacheMode || conf.adaptiveExecutionEnabled) topFused
      else topFused.transformUp {
        case b: BroadcastExchangeExec if CachedBroadcastExec.eligible(b.child) =>
          CachedBroadcastExec(b)
      }
    // root ORDER BY: per-task sorted runs merged at collect, LAST (same
    // place as its query-stage-prep registration under AQE)
    if (conf.adaptiveExecutionEnabled) bcached else MergeSortedCollect(bcached)
  }
}
