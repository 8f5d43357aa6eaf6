package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** Low-cardinality grouped aggregation finalized on the DRIVER — the
  * engine's analog of the reference's perfect-hash aggregate
  * (/root/reference/src/execution/operator/aggregate/
  * physical_perfecthash_aggregate.cpp): when the group domain is small
  * (pricing-summary flags, hour buckets × event types, nations), the
  * final merge is a few hundred rows of state, and routing it through a
  * shuffle exchange + second stage + separate sort job costs more than
  * the whole aggregation does.
  *
  * Shape: ONE distributed job runs the packed partial
  * ([[PackedPartialAggExec]] in driver mode, one bucket); its blobs —
  * O(groups) per task, the same payload a `collect()` of the shuffled
  * aggregate's output would move — return as task results and merge on
  * the driver with the packed reducer's merge, where the final result
  * expressions, sort and limit evaluate over the handful of groups.
  * One partial, two sinks: the shuffle to [[PackedFinalAggExec]] or
  * this driver merge (Dremel VLDB'20 runs one leaf partial and merges it
  * at the root of its serving tree). Spark's task-result path is the
  * transport, and the partial stage keeps ordinary map-side-combine
  * semantics (each input row read once, in parallel).
  *
  * Scale posture: driver state is O(tasks × groups). The `maxGroups`
  * valve (default 64k) aborts the coordinator-merge mid-flight if the
  * low-cardinality claim turns out false, and the exec then RE-RUNS the
  * retained ordinary shuffled plan (`groupBy → orderBy → limit`, kept
  * verbatim in [[DriverGroupAggPlan.fallback]]) — the right plan for
  * high-cardinality keys. A wrong cardinality guess costs one aborted
  * scan, never a wrong answer or a dead query.
  *
  * All unsupported surface (DISTINCT outside count, non-deterministic
  * FILTER, decimals, aggregates beyond Count/Sum/Avg/Min/Max and the
  * variance/stddev/covariance moments, group keys outside the packed
  * key domain) throws at PLAN time in
  * [[DriverAgg.lowCard]]; slot semantics live in [[SlotKernel]];
  * the logical node itself carries only pre-compiled slot specs and
  * BoundReference-based final expressions, so nothing unresolvable ever
  * enters the plan tree.
  */
object DriverAgg {

  /** Raised when a partition or the merged state exceeds `maxGroups`;
    * [[DriverGroupAggExec]] catches it (also through Spark's task-failure
    * wrapping) and re-runs the retained shuffled plan.
    */
  final class GroupCardinalityExceeded(msg: String) extends RuntimeException(msg)

  /** True while the valve fallback re-plans its retained shuffled plan.
    * [[graft.rules.BoundedKeyDriverAgg]] checks it: re-routing the
    * fallback into another driver agg (same stats, same wrong proof)
    * would recurse forever.
    */
  private[graft] val replanning = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Per-aggregate accumulator layout. `li`/`di`/`fi` index into the
    * long/double/flag state arrays; `in` indexes the value projection.
    */
  sealed trait Slot extends Serializable
  final case class CountSlot(li: Int, nullChecked: Seq[Int]) extends Slot
  final case class SumLSlot(li: Int, fi: Int, in: Int) extends Slot
  final case class SumDSlot(di: Int, fi: Int, in: Int) extends Slot
  final case class AvgSlot(di: Int, li: Int, in: Int) extends Slot
  final case class MinMaxLSlot(li: Int, fi: Int, in: Int, isMin: Boolean) extends Slot
  final case class MinMaxDSlot(di: Int, fi: Int, in: Int, isMin: Boolean) extends Slot
  /** Exact per-group distinct set for `count(DISTINCT x)` over a child
    * whose value domain is statistics-bounded. OPT-IN via
    * `layout(allowDistinct = true)` — ONLY the driver-finalized route can
    * carry it (set state has no blob encoding; it rides the partial's
    * [[ObjState]] side array, see [[Layout.flat]]).
    */
  final case class CountDistinctSlot(si: Int, in: Int) extends Slot
  /** min/max over strings — state is a detached UTF8String in the
    * group's [[ObjState]] (strings have no long/double encoding).
    */
  final case class MinMaxSSlot(oi: Int, in: Int, isMin: Boolean) extends Slot
  /** Central-moment state for stddev/variance — Spark's CentralMomentAgg
    * recurrence replicated OPERATION-FOR-OPERATION (update: newN; delta =
    * x − avg; deltaN = delta/newN; avg += deltaN; m2 += delta·(delta −
    * deltaN); merge: Chan et al. as Spark spells it), so a single-
    * partition result is bit-identical to the stock plan. Doubles (avg,
    * m2) at di, di+1; n at li (integer-valued — exact as double below
    * 2^53, so n-as-long divides identically). kind: 0=stddev_samp,
    * 1=stddev_pop, 2=var_samp, 3=var_pop; nullOnDiv mirrors the
    * function's nullOnDivideByZero (n==1 sample statistics).
    */
  final case class VarSlot(di: Int, li: Int, in: Int, kind: Int,
      nullOnDiv: Boolean) extends Slot
  /** Covariance state — Spark's Covariance recurrence replicated the
    * same way. Doubles (xAvg, yAvg, ck) at di..di+2; n at li. Updates
    * only when BOTH inputs are non-null (Spark's semantics).
    */
  final case class CovarSlot(di: Int, li: Int, inX: Int, inY: Int,
      samp: Boolean, nullOnDiv: Boolean) extends Slot

  final case class Layout(slots: Seq[Slot], aggTypes: Seq[DataType],
                          inputs: Seq[Expression], nL: Int, nD: Int, nF: Int,
                          nS: Int = 0, nO: Int = 0) {
    /** Only flat primitive state — what the shuffled routes can carry
      * (object state has no fixed-width blob encoding).
      */
    def flat: Boolean = nS == 0 && nO == 0
  }

  /** One group's flat state outside a map: the packed partial's
    * singleton-block staging (pass-through fragments).
    */
  final class Acc(val longs: Array[Long], val doubles: Array[Double],
                  val flags: Array[Boolean])

  /** One group's object state (distinct sets, string min/max): the side
    * array entry the packed partial carries next to its state blob in
    * driver mode (serializable: it rides the task result).
    */
  final class ObjState(val sets: Array[java.util.HashSet[AnyRef]], val objs: Array[AnyRef])
    extends Serializable

  /** Distinct sets are driver-merged task state: cap each one like the
    * group table so a false ndv bound aborts into the fallback, never
    * OOMs the driver.
    */
  private[plans] val maxDistinctCap = 1 << 16

  private def isLongIsh(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }
  private def isDoubleIsh(dt: DataType): Boolean =
    dt == DoubleType || dt == FloatType

  /** Slot layout for the distinct AggregateExpressions in `resultExprs`
    * (in first-occurrence order), or throw for unsupported aggregates.
    */
  private[graft] def layout(aggs: Seq[AggregateExpression],
      allowDistinct: Boolean = false): Layout = {
    val inputs = ArrayBuffer.empty[Expression]
    def inputIdx(e: Expression): Int = {
      val i = inputs.indexWhere(_.semanticEquals(e))
      if (i >= 0) i else { inputs += e; inputs.length - 1 }
    }
    var nL = 0; var nD = 0; var nF = 0; var nS = 0; var nO = 0
    def longSlot(): Int = { nL += 1; nL - 1 }
    def dblSlot(): Int = { nD += 1; nD - 1 }
    def flag(): Int = { nF += 1; nF - 1 }
    def setSlot(): Int = { nS += 1; nS - 1 }
    def objSlot(): Int = { nO += 1; nO - 1 }
    val slots = aggs.map { ae =>
      require((allowDistinct || !ae.isDistinct) &&
        (ae.filter.isEmpty || (!ae.isDistinct && ae.filter.get.deterministic)),
        s"driver agg: DISTINCT/FILTER unsupported in ${ae.sql}")
      // FILTER (WHERE p) over a NULL-ignoring aggregate ≡ the same
      // aggregate over If(p, x, NULL) — folded into the input expression
      // so no slot needs filter wiring (every slot kind below skips NULL
      // inputs; Count's null-checked inputs count the same way)
      def gIn(c: Expression): Expression = ae.filter match {
        case None => c
        case Some(p) => If(p, c, Literal(null, c.dataType))
      }
      if (ae.isDistinct) ae.aggregateFunction match {
        case Count(Seq(c)) => CountDistinctSlot(setSlot(), inputIdx(c))
        case other => throw new UnsupportedOperationException(
          s"driver agg: DISTINCT supported only for single-child count, got ${other.prettyName}")
      }
      else ae.aggregateFunction match {
        case Count(children) =>
          val checked = children.filterNot(c => c.foldable && c.eval() != null)
          val withFilter =
            if (ae.filter.isEmpty) checked.map(inputIdx)
            else if (checked.nonEmpty) checked.map(c => inputIdx(gIn(c)))
            else Seq(inputIdx(If(ae.filter.get, Literal(true),
              Literal(null, BooleanType))))
          CountSlot(longSlot(), withFilter)
        case Sum(c, _) if isLongIsh(c.dataType) =>
          SumLSlot(longSlot(), flag(), inputIdx(gIn(c)))
        case Sum(c, _) if isDoubleIsh(c.dataType) =>
          SumDSlot(dblSlot(), flag(), inputIdx(gIn(c)))
        case Average(c, _) if isLongIsh(c.dataType) || isDoubleIsh(c.dataType) =>
          AvgSlot(dblSlot(), longSlot(), inputIdx(gIn(c)))
        case Min(c) if isLongIsh(c.dataType) =>
          MinMaxLSlot(longSlot(), flag(), inputIdx(gIn(c)), isMin = true)
        case Max(c) if isLongIsh(c.dataType) =>
          MinMaxLSlot(longSlot(), flag(), inputIdx(gIn(c)), isMin = false)
        case Min(c) if isDoubleIsh(c.dataType) =>
          MinMaxDSlot(dblSlot(), flag(), inputIdx(gIn(c)), isMin = true)
        case Min(c) if c.dataType == StringType =>
          MinMaxSSlot(objSlot(), inputIdx(gIn(c)), isMin = true)
        case Max(c) if c.dataType == StringType =>
          MinMaxSSlot(objSlot(), inputIdx(gIn(c)), isMin = false)
        case Max(c) if isDoubleIsh(c.dataType) =>
          MinMaxDSlot(dblSlot(), flag(), inputIdx(gIn(c)), isMin = false)
        case sd: aggregate.StddevSamp if isDoubleIsh(sd.child.dataType) =>
          val di = dblSlot(); dblSlot()
          VarSlot(di, longSlot(), inputIdx(gIn(sd.child)), 0, sd.nullOnDivideByZero)
        case sd: aggregate.StddevPop if isDoubleIsh(sd.child.dataType) =>
          val di = dblSlot(); dblSlot()
          VarSlot(di, longSlot(), inputIdx(gIn(sd.child)), 1, sd.nullOnDivideByZero)
        case vr: aggregate.VarianceSamp if isDoubleIsh(vr.child.dataType) =>
          val di = dblSlot(); dblSlot()
          VarSlot(di, longSlot(), inputIdx(gIn(vr.child)), 2, vr.nullOnDivideByZero)
        case vr: aggregate.VariancePop if isDoubleIsh(vr.child.dataType) =>
          val di = dblSlot(); dblSlot()
          VarSlot(di, longSlot(), inputIdx(gIn(vr.child)), 3, vr.nullOnDivideByZero)
        case cv: aggregate.CovSample
            if isDoubleIsh(cv.left.dataType) &&
              isDoubleIsh(cv.right.dataType) =>
          val di = dblSlot(); dblSlot(); dblSlot()
          CovarSlot(di, longSlot(), inputIdx(gIn(cv.left)), inputIdx(cv.right),
            samp = true, cv.nullOnDivideByZero)
        case cv: aggregate.CovPopulation
            if isDoubleIsh(cv.left.dataType) &&
              isDoubleIsh(cv.right.dataType) =>
          val di = dblSlot(); dblSlot(); dblSlot()
          CovarSlot(di, longSlot(), inputIdx(gIn(cv.left)), inputIdx(cv.right),
            samp = false, cv.nullOnDivideByZero)
        case other => throw new UnsupportedOperationException(
          s"driver agg: unsupported aggregate ${other.prettyName} over " +
            s"${other.children.map(_.dataType.simpleString).mkString(", ")}")
      }
    }
    Layout(slots, aggs.map(_.dataType), inputs.toSeq, nL, nD, nF, nS, nO)
  }

  /** Rebuild `grouped` (which must be a plain `groupBy(...).agg(...)`
    * DataFrame) as a driver-finalized aggregate with the given total
    * order and optional limit. Result-identical to
    * `grouped.orderBy(sortCols: _*).limit(n)`; plans ONE job, no
    * exchange, no separate sort. Throws at plan time if the aggregate
    * uses anything outside the supported surface.
    */
  def lowCard(grouped: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
              limit: Int = -1, maxGroups: Int = 1 << 16): DataFrame = {
    val spark = grouped.sparkSession
    val agg = grouped.queryExecution.analyzed match {
      case a: Aggregate => a
      case other => throw new IllegalArgumentException(
        s"DriverAgg.lowCard needs a bare groupBy().agg() plan, got ${other.nodeName}")
    }
    // let the ANALYZER resolve the sort columns against the aggregate's
    // output (Spark 4 Columns are lazy ColumnNodes — manual resolution
    // would re-implement the analyzer); the analyzed Sort is thrown away,
    // only its resolved SortOrder list is kept
    val order: Seq[SortOrder] =
      if (sortCols.isEmpty) Nil
      else grouped.orderBy(sortCols: _*).queryExecution.analyzed match {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.order
        case other => throw new IllegalArgumentException(
          s"sort columns must resolve against the aggregate output alone, got ${other.nodeName}")
      }

    // the result-identical shuffled plan, retained verbatim: when the
    // low-cardinality claim fails at runtime the exec re-plans THIS
    // (fresh QueryExecution, ordinary partial→exchange→final aggregate)
    // instead of dying
    val fallbackDf = {
      val sorted = if (sortCols.isEmpty) grouped else grouped.orderBy(sortCols: _*)
      if (limit >= 0) sorted.limit(limit) else sorted
    }

    org.apache.spark.sql.graft.bridge.ofRows(spark,
      fromAggregate(agg, order, limit, maxGroups,
        fallbackDf.queryExecution.analyzed,
        spark.sessionState.conf.ansiEnabled))
  }

  /** Plan-level core of [[lowCard]]: convert an analyzed/optimized bare
    * Aggregate (plus a resolved total order and optional limit) into a
    * [[DriverGroupAggPlan]]. Throws for any aggregate outside the slot
    * surface (DISTINCT/decimals/exotic functions) or a key outside
    * [[PackedAgg.supportedKey]] — callers that
    * must not fail (the auto-routing rule) wrap in Try.
    */
  private[graft] def fromAggregate(agg: Aggregate, order: Seq[SortOrder],
      limit: Int, maxGroups: Int, fallback: LogicalPlan,
      ansi: Boolean, allowDistinct: Boolean = false): DriverGroupAggPlan = {
    val groupExprs = agg.groupingExpressions
    require(groupExprs.length <= 64 && groupExprs.forall(g => PackedAgg.supportedKey(g.dataType)),
      s"driver agg: group keys outside the packed key domain: ${groupExprs.map(_.sql)}")
    val resultExprs = agg.aggregateExpressions
    val out = resultExprs.map(_.toAttribute)

    val aggs = ArrayBuffer.empty[AggregateExpression]
    resultExprs.foreach(_.foreach {
      case ae: AggregateExpression if !aggs.exists(_.semanticEquals(ae)) => aggs += ae
      case _ =>
    })
    val lay = layout(aggs.toSeq, allowDistinct)

    // rewrite the result expressions over the driver-side merged row
    // [key fields ++ final aggregate values] — after this, the plan holds
    // no AggregateExpression and no child references in the final stage
    val nKeys = groupExprs.length
    val strippedKeys = groupExprs.map { case a: Alias => a.child; case e => e }
    def rewrite(e: Expression): Expression = {
      val ki = strippedKeys.indexWhere(_.semanticEquals(e match {
        case a: Alias => a.child; case x => x
      }))
      e match {
        case a: Alias =>
          a.copy(child = rewrite(a.child))(a.exprId, a.qualifier, a.explicitMetadata,
            a.nonInheritableMetadataKeys)
        case _ if ki >= 0 => BoundReference(ki, e.dataType, e.nullable)
        case ae: AggregateExpression =>
          val ai = aggs.indexWhere(_.semanticEquals(ae))
          BoundReference(nKeys + ai, ae.dataType, nullable = true)
        case other => other.mapChildren(rewrite)
      }
    }
    val finalExprs: Seq[NamedExpression] = resultExprs.map { ne =>
      rewrite(ne) match {
        case n: NamedExpression => n
        case e => Alias(e, ne.name)(ne.exprId, ne.qualifier)
      }
    }

    DriverGroupAggPlan(groupExprs, lay.inputs, lay.slots, lay.aggTypes,
      finalExprs, order, limit, maxGroups,
      lay.nL, lay.nD, lay.nF, agg.child, out, fallback, ansi)
  }
}

final case class DriverGroupAggPlan(
    groupExprs: Seq[Expression],
    aggInputs: Seq[Expression],
    slots: Seq[DriverAgg.Slot],
    aggTypes: Seq[DataType],
    finalExprs: Seq[NamedExpression],
    sortOrder: Seq[SortOrder],
    limit: Int,
    maxGroups: Int,
    nL: Int, nD: Int, nF: Int,
    child: LogicalPlan,
    output: Seq[Attribute],
    // NOT a child: the analyzed shuffled groupBy→orderBy→limit plan the
    // exec re-runs (own QueryExecution) if maxGroups trips at runtime
    fallback: LogicalPlan,
    ansi: Boolean) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // Only groupExprs/aggInputs evaluate against the child (finalExprs are
  // BoundReference-based, sortOrder binds to `output`). Pass-through group
  // keys share exprIds with `output`, so the default
  // expressions-minus-producedAttributes would hide them from
  // ColumnPruning and the child would lose its grouping columns.
  override def references: AttributeSet =
    AttributeSet((groupExprs ++ aggInputs).flatMap(_.references))
  override protected def withNewChildInternal(c: LogicalPlan): DriverGroupAggPlan =
    copy(child = c)
}

object DriverAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: DriverGroupAggPlan =>
      val keyTypes = p.groupExprs.map(_.dataType)
      val partial = PackedPartialAggExec(
        p.groupExprs.map { case a: Alias => a.child; case e => e }, keyTypes,
        p.aggInputs, p.slots, p.nL, p.nD, p.nF, buckets = 1,
        PackedPartialAggExec.freshOutput(), planLater(p.child), columnarChild = false,
        ansi = p.ansi, tuning = PackedAgg.tuning(),
        driverFinal = Some(PackedAgg.DriverFinal(p.maxGroups)))
      DriverGroupAggExec(keyTypes, p.slots, p.aggTypes, p.nL, p.nD, p.nF,
        p.finalExprs, p.sortOrder, p.limit, p.maxGroups, p.output, partial,
        p.fallback, p.ansi) :: Nil
    case _ => Nil
  }
}

/** The driver sink of the packed partial: its one job collects the
  * partial's blobs (plus the object-state side arrays) as task results,
  * merges them on the driver with the reducer's merge
  * ([[PackedAgg.KeyLayout.mergeBlob]]), then evaluates the final
  * expressions, sort and limit over the merged groups.
  *
  * Metrics: `numOutputRows`, `mergedGroups` (groups after the driver
  * merge) and `valveFallbacks` (1 when the `maxGroups` valve re-ran the
  * retained plan).
  */
final case class DriverGroupAggExec(
    keyTypes: Seq[DataType],
    slots: Seq[DriverAgg.Slot],
    aggTypes: Seq[DataType],
    nL: Int, nD: Int, nF: Int,
    finalExprs: Seq[NamedExpression],
    sortOrder: Seq[SortOrder],
    limit: Int,
    maxGroups: Int,
    output: Seq[Attribute],
    // the packed partial in driver mode (see DriverAggStrategy)
    child: SparkPlan,
    // driver-side only (the valve fallback). MUST be @transient: when
    // this exec runs inside a ScalarSubquery, the enclosing stage's
    // task closure serializes the subquery expression tree — and an
    // analyzed LogicalPlan holds non-serializable file indexes.
    @transient fallback: LogicalPlan,
    ansi: Boolean) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "mergedGroups" -> SQLMetrics.createMetric(sparkContext, "groups merged on the driver"),
    "valveFallbacks" -> SQLMetrics.createMetric(sparkContext, "maxGroups valve fallbacks"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): DriverGroupAggExec =
    copy(child = c)

  /** The single distributed job + driver merge and finalize. */
  private def finalRows(): Array[InternalRow] = {
    val partial = child.asInstanceOf[PackedPartialAggExec]
    val blobs = sparkContext.runJob(partial.executeBlobs(),
      (it: Iterator[PackedAgg.Blob]) => it.toArray)
    val k = new SlotKernel(slots, Nil, aggTypes, nL, nD, nF, ansi)
    val kl = PackedAgg.KeyLayout(keyTypes)
    val m = new PackedAgg.MultiKeyMap(kl.nLK, kl.nSK, nL, nD, nF, hasObjs = k.hasObj)
    blobs.foreach(_.foreach { b =>
      kl.mergeBlob(m, k, b.keys, b.state, b.objs)
      if (m.size > maxGroups) throw new DriverAgg.GroupCardinalityExceeded(
        s"driver agg: merged group count exceeded maxGroups=$maxGroups")
    })
    // a GLOBAL aggregate over empty input still yields one (empty) group
    if (kl.n == 0 && m.size == 0) { m.stageMask = 0L; m.slotOf(PackedAgg.hashSeed) }
    longMetric("mergedGroups") += m.size

    val proj = UnsafeProjection.create(finalExprs)
    val evalRow = new SpecificInternalRow(keyTypes ++ aggTypes)
    val writeKeys = kl.keyWriter(m, evalRow)
    val rows = new ArrayBuffer[InternalRow](m.size)
    m.foreachSlot { s =>
      writeKeys(s)
      k.writeOutputs(m.longs, m.doubles, m.flags, s, evalRow, kl.n,
        obj = if (m.objs == null) null else m.objs(s))
      rows += proj(evalRow).copy()
    }
    val sorted =
      if (sortOrder.isEmpty) rows
      else rows.sorted(RowOrdering.create(sortOrder.map(so => so.copy(child =
        BindReferences.bindReference(so.child, output))), Seq.empty))
    (if (limit >= 0) sorted.take(limit) else sorted).toArray
  }

  /** True when the failure (possibly wrapped by Spark's task-failure
    * reporting) is the maxGroups valve tripping.
    */
  private def cardinalityExceeded(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[DriverAgg.GroupCardinalityExceeded] ||
          (c.getMessage != null && c.getMessage.contains("exceeded maxGroups")))
        return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  /** Valve fallback: the low-cardinality claim failed at runtime, so run
    * the retained shuffled plan — a fresh QueryExecution plans the
    * ordinary partial→exchange→final aggregate + sort + limit. Costs one
    * aborted scan; never a wrong answer.
    */
  private def rowsWithFallback(): Array[InternalRow] = {
    val rows =
      try {
        // finalExprs may hold ExecSubqueryExpressions (the thq15-class
        // scalar-subquery routing): executeCollect bypasses executeQuery's
        // wrapper, so materialize this node's subqueries explicitly before
        // any driver-side eval — ScalarSubquery.eval throws otherwise
        // (idempotent on the doExecute path, which already prepared)
        prepare()
        waitForSubqueries()
        finalRows()
      } catch {
        case t: Throwable if cardinalityExceeded(t) =>
          logWarning(s"DriverAgg maxGroups=$maxGroups exceeded; re-running the " +
            "retained shuffled aggregate plan")
          longMetric("valveFallbacks") += 1
          DriverAgg.replanning.set(java.lang.Boolean.TRUE)
          try org.apache.spark.sql.graft.bridge.ofRows(session, fallback)
            .queryExecution.executedPlan.executeCollect()
          finally DriverAgg.replanning.set(java.lang.Boolean.FALSE)
      }
    longMetric("numOutputRows") += rows.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    rows
  }

  override def executeCollect(): Array[InternalRow] = rowsWithFallback()

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rowsWithFallback().toIndexedSeq, 1)
}
