package graft.rules

import graft.GraftRule
import graft.functions.TopKRowsAgg

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Rewrite the grouped top-k pattern
  * {{{
  *   SELECT ... FROM (
  *     SELECT *, row_number() OVER (PARTITION BY p ORDER BY o) AS rn
  *     FROM t) WHERE rn <= k
  * }}}
  * from Spark's sort-everything plan (per-partition Sort +
  * WindowGroupLimit + exchange + full Sort + WindowExec — two complete
  * sorts of the input even though only k rows per group survive) into a
  * hash aggregation with a k-bounded per-group buffer
  * ([[TopKRowsAgg]]) followed by posexplode:
  * {{{
  *   Aggregate(p, top_k_rows(struct(child.*), o, k)) → PosExplode →
  *   Project(struct fields..., rn = pos + 1)
  * }}}
  * The update path is one compare against the group's current worst for
  * the dominant reject case — no sort of the input on either side of
  * the exchange, and the partial side ships at most k rows per group
  * per partition. h2o_g08 (top-2 of 1e7 rows over 1e5 groups) spends
  * ~21 s of task time in the two sorts this removes. The reference
  * never materializes a full sort for rank-limit patterns either (heap
  * select in its window aggregator over the partition hash groups).
  *
  * Exactness: row_number (unlike rank) assigns an arbitrary order among
  * order-by ties, so "k rows per group in order-by order" is the entire
  * contract — the aggregate keeps exactly that. rank/dense_rank are NOT
  * rewritten (their tie expansion needs unbounded state).
  *
  * Scope guards: single row_number window expression, non-empty
  * partition and order specs, literal k ≤ [[MaxK]], payload ≤
  * [[MaxPayloadWidth]] columns (state holds full rows). The filter may
  * carry extra conjuncts; they are re-applied above the rebuilt rows.
  */
/** Statistics-proved partial skip for the [[TopKRowsAgg]] pair — the
  * top-k twin of [[SinglePhaseAgg]], with the opposite cardinality
  * regime and a different cost model:
  *
  * A map-side top-k partial over HIGH-cardinality groups is an
  * allocation storm that reduces almost nothing: with g groups, k kept
  * rows and p map partitions it ships up to p·g·k serialized buffers —
  * FATTER than the raw rows (each buffer row carries its key row, its
  * payload rows and length headers; h2o_g08 measured 151 MB of buffers
  * vs 90 MB raw, with ~12 s of GC in the partial stage). The reduce
  * side, by contrast, sees all of a group's rows together, so the
  * k-bounded buffer rejects almost every row after warmup (expected
  * inserts per group ≈ k·(1 + ln(n/k)) for random arrival).
  *
  * So when the warm cache's NDV lower bound proves p·ndv·k ≥
  * [[SkipRatio]]·rows, rewrite
  * `final(topk) ← exchange ← partial(topk) ← child` to
  * `complete(topk) ← exchange ← child`. Unlike SinglePhaseAgg, a
  * FilterExec is allowed in the scan chain: the proof is an upper bound
  * argument — a wrong skip ships the filtered raw rows, which is never
  * more bytes than the partial's buffers would have been, while a right
  * skip deletes the storm. Low-cardinality keys (h2o id1, K=100) keep
  * the reductive partial. `spark.graft.disabled=TopKSinglePhase`
  * disables.
  */
object TopKSinglePhase
    extends GraftRule[org.apache.spark.sql.execution.SparkPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
  import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

  val SkipRatio = 0.3

  private def strip(e: Expression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  private def scanChain(p: SparkPlan): Boolean = p match {
    case f: org.apache.spark.sql.execution.FilterExec => scanChain(f.child)
    case pr: org.apache.spark.sql.execution.ProjectExec => scanChain(pr.child)
    case c: org.apache.spark.sql.execution.ColumnarToRowExec => scanChain(c.child)
    case i: org.apache.spark.sql.execution.InputAdapter => scanChain(i.child)
    case other => SinglePhaseAgg.rowPreservingScanChain(other)
  }

  private def provedNonReductive(
      groups: Seq[Expression], k: Int, mapParts: Int): Boolean =
    groups.map(strip).exists {
      case a: AttributeReference if a.metadata.contains("graft.ndvLow") &&
          a.metadata.contains("graft.rowCount") =>
        val rows = a.metadata.getLong("graft.rowCount")
        rows > 0 &&
          mapParts.toLong * a.metadata.getLong("graft.ndvLow") * k >=
            (SkipRatio * rows).toLong
      case _ => false
    }

  protected def rewrite(plan: SparkPlan): SparkPlan = {
    plan.transformUp {
      case fin @ ObjectHashAggregateExec(_, false, _, _, aggsF, aggAttrs, _,
            resultExprs,
            ShuffleExchangeExec(HashPartitioning(_, n),
              part @ ObjectHashAggregateExec(_, false, _, _, aggsP, _, _, _,
                gchild), _, _))
          if part.groupingExpressions.nonEmpty &&
            aggsF.forall(_.mode == Final) && aggsP.forall(_.mode == Partial) &&
            aggsF.map(_.resultId) == aggsP.map(_.resultId) &&
            aggsF.forall(_.aggregateFunction.isInstanceOf[graft.functions.TopKRowsAgg]) &&
            fin.groupingExpressions.map(_.toAttribute.exprId) ==
              part.groupingExpressions.map(_.toAttribute.exprId) &&
            part.groupingExpressions.forall(_.deterministic) &&
            aggsF.forall(_.deterministic) &&
            scanChain(gchild) &&
            provedNonReductive(part.groupingExpressions,
              aggsF.map(_.aggregateFunction
                .asInstanceOf[graft.functions.TopKRowsAgg].k).max,
              math.max(1, gchild.outputPartitioning.numPartitions)) =>
        val keyExprs = part.groupingExpressions.map(strip)
        val ex2 = ShuffleExchangeExec(HashPartitioning(keyExprs, n), gchild)
        val complete = ObjectHashAggregateExec(
          requiredChildDistributionExpressions = Some(keyExprs),
          isStreaming = false,
          numShufflePartitions = fin.numShufflePartitions,
          groupingExpressions = part.groupingExpressions,
          aggregateExpressions = aggsF.map(_.copy(mode =
            org.apache.spark.sql.catalyst.expressions.aggregate.Complete)),
          aggregateAttributes = aggAttrs,
          initialInputBufferOffset = 0,
          resultExpressions = resultExprs,
          child = ex2)
        fin.logicalLink.foreach { link =>
          ex2.setLogicalLink(link)
          complete.setLogicalLink(link)
        }
        complete
    }
  }
}

object WindowTopKToAgg extends GraftRule[LogicalPlan] {
  val MaxK = 128
  val MaxPayloadWidth = 24

  /** k such that the conjunct means `rn <= k`, if it does. */
  private def limitOf(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, Literal(1, IntegerType))
      if a.semanticEquals(rn) => Some(1)
    case EqualTo(Literal(1, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  protected def rewrite(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
            parts, orders, wchild0, _))
          if parts.nonEmpty && orders.nonEmpty &&
            wchild0.output.length <= MaxPayloadWidth =>
        // Spark's InferWindowGroupLimit has usually already planted its
        // pre-filter below the window; the aggregate subsumes it
        val wchild = wchild0 match {
          case WindowGroupLimit(_, _, _, _, c) => c
          case c => c
        }
        val rn = alias.toAttribute
        val conjuncts = splitConjuncts(cond)
        val ks = conjuncts.flatMap(c => limitOf(c, rn).map(c -> _))
        if (ks.isEmpty) f
        else {
          val k = ks.map(_._2).min
          val kConjuncts = ks.map(_._1).toSet
          val residual = conjuncts.filterNot(kConjuncts)
          if (k < 1) {
            // rn <= 0 selects nothing; leave the degenerate shape alone
            f
          } else if (k > MaxK) f
          else {
            val func = TopKRowsAgg(k, wchild.output, orders)
            val aggExpr = AggregateExpression(func, Complete, isDistinct = false)
            val arrAlias = Alias(aggExpr, "graft_topk")()
            val agg = Aggregate(parts, Seq(arrAlias), wchild)
            val structType = func.dataType
              .asInstanceOf[org.apache.spark.sql.types.ArrayType]
              .elementType.asInstanceOf[StructType]
            val posAttr = AttributeReference("graft_topk_pos", IntegerType,
              nullable = false)()
            val colAttr = AttributeReference("graft_topk_col", structType,
              nullable = false)()
            val gen = Generate(PosExplode(arrAlias.toAttribute),
              unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
              generatorOutput = Seq(posAttr, colAttr), agg)
            // rebuild the window's output attributes under their ORIGINAL
            // exprIds so the parent plan re-binds unchanged
            val restored = wchild.output.zipWithIndex.map { case (a, i) =>
              Alias(GetStructField(colAttr, i, Some(a.name)), a.name)(
                exprId = a.exprId, qualifier = a.qualifier,
                explicitMetadata = Some(a.metadata))
            }
            val rnRestored = Alias(
              Add(posAttr, Literal(1, IntegerType)), alias.name)(
              exprId = alias.exprId, qualifier = alias.qualifier)
            val proj = Project(restored :+ rnRestored, gen)
            if (residual.isEmpty) proj
            else Filter(residual.reduce(And), proj)
          }
        }
    }
}
