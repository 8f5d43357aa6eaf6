package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
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
  * Shape: ONE distributed job computes per-partition partial states
  * (codegen'd key/value projections feeding a hash map); the task results
  * — O(groups) per task, the same payload a `collect()` of the shuffled
  * aggregate's output would move — merge on the driver, where the final
  * result expressions, sort and limit evaluate over the handful of
  * groups. This is the coordinator-merge every native engine performs for
  * low-cardinality aggregation; Spark's task-result path is its
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
  * variance/stddev/covariance moments) throws at PLAN time in
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
    * `layout(allowDistinct = true)` — ONLY the driver-finalized exec can
    * carry it (set state has no blob encoding; see [[Layout.flat]]).
    */
  final case class CountDistinctSlot(si: Int, in: Int) extends Slot
  /** min/max over strings — state is a detached UTF8String in the Acc's
    * object array (strings have no long/double encoding).
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

  /** Mutable per-group state (serializable: it is the task-result payload). */
  final class Acc(val longs: Array[Long], val doubles: Array[Double],
                  val flags: Array[Boolean],
                  val sets: Array[java.util.HashSet[AnyRef]] = null,
                  val objs: Array[AnyRef] = null)
    extends Serializable

  /** Distinct sets are driver-merged task state: cap each one like the
    * group table so a false ndv bound aborts into the fallback, never
    * OOMs the driver.
    */
  private[plans] val maxDistinctCap = 1 << 16

  /** Dense direct-index partial for single calendar-bucket keys — the
    * perfect-hash aggregate proper (reference:
    * physical_perfecthash_aggregate.cpp direct-indexes group state by
    * the proven key range). Escape hatch for A/B + differential specs.
    */
  @volatile var denseCalendarEnabled: Boolean =
    !sys.env.get("GRAFT_NO_DENSE_CAL").contains("1")

  /** Dict-id group keys in the batch partial: when a string key column
    * is served dictionary-encoded by the cache, per-batch dictionary ids
    * remap to task-level intern ids once per batch and rows key by an
    * int-array read — the reference's DICTIONARY-vector aggregation
    * (reference: src/include/duckdb/common/enums/vector_type.hpp:15-21,
    * physical_hash_aggregate.cpp over dictionary vectors). Escape hatch
    * for A/B + differential specs.
    */
  /** Dense single-string-key grouping: index groups directly by intern id
    * (no per-row hash probe) — the perfect-hash group-by applied to the
    * interned string domain. Escape hatch: GRAFT_NO_DIRECT_STR_KEY=1.
    */
  @volatile var directStringArm: Boolean =
    !sys.env.get("GRAFT_NO_DIRECT_STR_KEY").contains("1")

  @volatile var dictKeysEnabled: Boolean =
    !sys.env.get("GRAFT_NO_DICT_KEYS").contains("1")

  /** Compiled double-expression aggregate inputs in the batch partial
    * (the q1 disc_price/charge shape): {col, lit, +, -, ×, cast-to-
    * double} trees evaluate straight off the vectors in the plan's
    * exact shape (bit-identical IEEE result), instead of routing EVERY
    * input through the per-row UnsafeProjection when any one input is
    * an expression. Escape hatch for A/B + differential specs.
    */
  @volatile var exprVecEnabled: Boolean =
    !sys.env.get("GRAFT_NO_EXPR_VEC").contains("1")

  /** Filter fold into the batch partial ([[graft.rules
    * .InsertCacheColumnarToRow]] replaces Filter-over-cache-scan children
    * with a per-batch [[DictSelection]] inside the partial loop — the
    * selection-pushed scan the reference's table scan performs).
    */
  @volatile var aggSelectionEnabled: Boolean =
    !sys.env.get("GRAFT_NO_AGG_SELECTION").contains("1")

  // ---- vector-direct aggregate-input plans ---------------------------
  /** Per-input access plan for the batch partial: DirectIn reads the
    * column; CompiledIn evaluates a compiled double tree over the
    * batch's vectors (null iff any referenced column is null — the
    * null semantics of +/-/× over nullable inputs).
    */
  private[plans] sealed trait InPlan extends Serializable
  private[plans] final case class DirectIn(ord: Int) extends InPlan
  private[plans] final case class CompiledIn(prog: DProg, ords: Array[Int]) extends InPlan

  /** Double-expression program node. Walked in the analyzed plan's
    * exact tree shape — same IEEE operation order as codegen, so
    * results are bit-identical. Doubles cannot overflow-throw, so ANSI
    * and legacy eval modes agree on every node compiled here.
    */
  private[plans] sealed trait DProg extends Serializable {
    def eval(cols: Array[org.apache.spark.sql.vectorized.ColumnVector], r: Int): Double
  }
  private[plans] final case class DCol(ord: Int, tc: Int) extends DProg {
    def eval(cols: Array[org.apache.spark.sql.vectorized.ColumnVector], r: Int): Double =
      tc match {
        case 0 => cols(ord).getByte(r).toDouble
        case 1 => cols(ord).getShort(r).toDouble
        case 2 => cols(ord).getInt(r).toDouble
        case 3 => cols(ord).getLong(r).toDouble
        case 4 => cols(ord).getFloat(r).toDouble
        case _ => cols(ord).getDouble(r)
      }
  }
  private[plans] final case class DLit(v: Double) extends DProg {
    def eval(cols: Array[org.apache.spark.sql.vectorized.ColumnVector], r: Int): Double = v
  }
  private[plans] final case class DAdd(l: DProg, rp: DProg) extends DProg {
    def eval(cols: Array[org.apache.spark.sql.vectorized.ColumnVector], r: Int): Double =
      l.eval(cols, r) + rp.eval(cols, r)
  }
  private[plans] final case class DSub(l: DProg, rp: DProg) extends DProg {
    def eval(cols: Array[org.apache.spark.sql.vectorized.ColumnVector], r: Int): Double =
      l.eval(cols, r) - rp.eval(cols, r)
  }
  private[plans] final case class DMul(l: DProg, rp: DProg) extends DProg {
    def eval(cols: Array[org.apache.spark.sql.vectorized.ColumnVector], r: Int): Double =
      l.eval(cols, r) * rp.eval(cols, r)
  }

  private def dTypeCode(dt: DataType): Int = dt match {
    case ByteType => 0
    case ShortType => 1
    case IntegerType => 2
    case LongType => 3
    case FloatType => 4
    case DoubleType => 5
    case _ => -1
  }

  /** Compile a DoubleType expression over direct columns, or None. Only
    * node kinds whose double semantics are mode-independent and
    * null-iff-any-input-null are admitted: attribute reads, non-null
    * literals, numeric→double casts of attributes, +, -, ×.
    */
  private[plans] def compileDouble(e: Expression,
      childOut: Seq[Attribute]): Option[CompiledIn] = {
    val ords = ArrayBuffer.empty[Int]
    def ordOf(a: Attribute): Option[Int] = {
      val i = childOut.indexWhere(_.exprId == a.exprId)
      if (i < 0) None else { if (!ords.contains(i)) ords += i; Some(i) }
    }
    def go(x: Expression): Option[DProg] = x match {
      case a: AttributeReference if a.dataType == DoubleType =>
        ordOf(a).map(DCol(_, 5))
      case c: Cast if c.dataType == DoubleType => c.child match {
        case a: AttributeReference if dTypeCode(a.dataType) >= 0 =>
          ordOf(a).map(DCol(_, dTypeCode(a.dataType)))
        case _ => None
      }
      case Literal(v: Double, DoubleType) => Some(DLit(v))
      case Literal(v: Float, FloatType) => Some(DLit(v.toDouble))
      case a: Add if a.dataType == DoubleType =>
        for (l <- go(a.left); r <- go(a.right)) yield DAdd(l, r)
      case s: Subtract if s.dataType == DoubleType =>
        for (l <- go(s.left); r <- go(s.right)) yield DSub(l, r)
      case m: Multiply if m.dataType == DoubleType =>
        for (l <- go(m.left); r <- go(m.right)) yield DMul(l, r)
      case _ => None
    }
    if (e.isInstanceOf[AttributeReference]) None // DirectIn handles those
    else go(e).map(p => CompiledIn(p, ords.toArray))
  }

  /** A compiled double input as a batch column: NULL iff any referenced
    * column is NULL (the null semantics of +/-/× over nullable inputs),
    * value = the program evaluated at the row. Lets the slot kernel read
    * compiled and direct inputs alike.
    */
  private[plans] final class CompiledDoubleVector(prog: DProg, ords: Array[Int],
      cols: Array[org.apache.spark.sql.vectorized.ColumnVector])
    extends org.apache.spark.sql.vectorized.ColumnVector(DoubleType) {
    override def isNullAt(r: Int): Boolean = {
      var i = 0
      while (i < ords.length) { if (cols(ords(i)).isNullAt(r)) return true; i += 1 }
      false
    }
    override def hasNull: Boolean = ords.exists(o => cols(o).hasNull)
    override def getDouble(r: Int): Double = prog.eval(cols, r)
    override def numNulls(): Int = unsupported
    override def getBoolean(r: Int): Boolean = unsupported
    override def getByte(r: Int): Byte = unsupported
    override def getShort(r: Int): Short = unsupported
    override def getInt(r: Int): Int = unsupported
    override def getLong(r: Int): Long = unsupported
    override def getFloat(r: Int): Float = unsupported
    override def getArray(r: Int): org.apache.spark.sql.vectorized.ColumnarArray = unsupported
    override def getMap(r: Int): org.apache.spark.sql.vectorized.ColumnarMap = unsupported
    override def getDecimal(r: Int, p: Int, s: Int): Decimal = unsupported
    override def getUTF8String(r: Int): org.apache.spark.unsafe.types.UTF8String = unsupported
    override def getBinary(r: Int): Array[Byte] = unsupported
    override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector = unsupported
    override def close(): Unit = ()
    private def unsupported: Nothing =
      throw new UnsupportedOperationException("compiled input reads as double only")
  }

  // ---- columnar key extraction --------------------------------------
  // The partial's row path pays ~250 ns/row at bench scale: a
  // column-to-row materialization, two UnsafeProjections, and an
  // UnsafeRow-keyed HashMap probe per input row. The gated shapes group
  // by at most two parts, each a plain column or an hour-bucket — the
  // reference's perfect-hash aggregate reads those straight off vectors
  // (physical_perfecthash_aggregate.cpp). These specs describe group
  // exprs a batch loop can evaluate without any row projection; string
  // parts intern to small task-local ids, so the per-row key is one or
  // two longs probed against an open-addressing table.
  sealed trait ColKeyPart extends Serializable { def ord: Int }
  final case class LongKeyPart(ord: Int, intWidth: Boolean, dt: DataType) extends ColKeyPart
  final case class TruncKeyPart(ord: Int, unit: Long) extends ColKeyPart
  final case class StringKeyPart(ord: Int) extends ColKeyPart
  /** Calendar (non-fixed-width) trunc of a micros column via the codegen
    * kernels; `asDate` additionally floors micros → epoch days (the
    * `CAST(date_trunc(..) AS DATE)` histogram shape).
    */
  final case class CalendarKeyPart(ord: Int, kernel: String, asDate: Boolean)
      extends ColKeyPart {
    @transient private lazy val fn: Long => Long = kernel match {
      case "truncWeek" => graft.functions.DateTruncKernel.truncWeek
      case "truncMonth" => graft.functions.DateTruncKernel.truncMonth
      case "truncQuarter" => graft.functions.DateTruncKernel.truncQuarter
      case "truncYear" => graft.functions.DateTruncKernel.truncYear
    }
    def eval(us: Long): Long = {
      val t = fn(us)
      if (asDate) Math.floorDiv(t, 86400000000L) else t
    }
  }

  /** Columnar-translatable group keys: direct int/long/date/timestamp or
    * string attributes, or the FastUtcDateTrunc arithmetic shape
    * (`micros_to_timestamp(micros - pmod(micros, unit))`) over a direct
    * timestamp column. At most 2 parts — the gated call sites' shapes.
    */
  private[plans] def colKeyParts(groupExprs: Seq[Expression],
      childOut: Seq[Attribute]): Option[Seq[ColKeyPart]] = {
    // UNGROUPED: trivially columnar-translatable (no key to extract) —
    // the batch partial runs its dedicated single-acc loop
    if (groupExprs.isEmpty) return Some(Nil)
    if (groupExprs.length > 2) return None
    def ordOf(a: Attribute): Int = childOut.indexWhere(_.exprId == a.exprId)
    // the micros source of a calendar trunc: a timestamp column, or an
    // NTZ column through the UTC reinterpret (both store micros longs in
    // the column vector)
    def calSrcAttr(src: Expression): Option[AttributeReference] = src match {
      case a: AttributeReference
          if a.dataType == TimestampType || a.dataType == TimestampNTZType => Some(a)
      case graft.functions.UtcNtzReinterpret(a: AttributeReference)
          if a.dataType == TimestampNTZType => Some(a)
      case _ => None
    }
    val parts: Seq[Option[ColKeyPart]] = groupExprs.map { g =>
      val e = g match { case a: Alias => a.child; case x => x }
      e match {
        case a: AttributeReference if ordOf(a) >= 0 => a.dataType match {
          case IntegerType | DateType =>
            Some(LongKeyPart(ordOf(a), intWidth = true, a.dataType))
          case LongType | TimestampType | TimestampNTZType =>
            Some(LongKeyPart(ordOf(a), intWidth = false, a.dataType))
          case StringType => Some(StringKeyPart(ordOf(a)))
          case _ => None
        }
        case graft.functions.UtcMicrosToDate(graft.functions.UtcCalendarTrunc(src, k)) =>
          calSrcAttr(src).filter(a => ordOf(a) >= 0)
            .map(a => CalendarKeyPart(ordOf(a), k, asDate = true))
        case graft.functions.UtcCalendarTrunc(src, k) =>
          calSrcAttr(src).filter(a => ordOf(a) >= 0)
            .map(a => CalendarKeyPart(ordOf(a), k, asDate = false))
        case MicrosToTimestamp(sub: Subtract) => (sub.left, sub.right) match {
          case (UnixMicros(a: AttributeReference), p: Pmod) =>
            (p.left, p.right) match {
              case (UnixMicros(a2: AttributeReference), Literal(u: Long, LongType))
                  if a.exprId == a2.exprId && ordOf(a) >= 0 && u > 0 =>
                Some(TruncKeyPart(ordOf(a), u))
              case _ => None
            }
          case _ => None
        }
        case _ => None
      }
    }
    if (parts.forall(_.isDefined)) Some(parts.map(_.get)) else None
  }

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
    * surface (DISTINCT/decimals/exotic functions) — callers that
    * must not fail (the auto-routing rule) wrap in Try.
    */
  private[graft] def fromAggregate(agg: Aggregate, order: Seq[SortOrder],
      limit: Int, maxGroups: Int, fallback: LogicalPlan,
      ansi: Boolean, allowDistinct: Boolean = false): DriverGroupAggPlan = {
    val groupExprs = agg.groupingExpressions
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
      lay.nL, lay.nD, lay.nF, lay.nS, lay.nO, agg.child, out, fallback, ansi)
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
    nL: Int, nD: Int, nF: Int, nS: Int, nO: Int,
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
      DriverGroupAggExec(p.groupExprs, p.aggInputs, p.slots, p.aggTypes,
        p.finalExprs, p.sortOrder, p.limit, p.maxGroups, p.nL, p.nD, p.nF, p.nS, p.nO,
        p.output, planLater(p.child), p.fallback, p.ansi) :: Nil
    case _ => Nil
  }
}

final case class DriverGroupAggExec(
    groupExprs: Seq[Expression],
    aggInputs: Seq[Expression],
    slots: Seq[DriverAgg.Slot],
    aggTypes: Seq[DataType],
    finalExprs: Seq[NamedExpression],
    sortOrder: Seq[SortOrder],
    limit: Int,
    maxGroups: Int,
    nL: Int, nD: Int, nF: Int, nS: Int, nO: Int,
    output: Seq[Attribute],
    child: SparkPlan,
    // driver-side only (the valve fallback). MUST be @transient: when
    // this exec runs inside a ScalarSubquery, the enclosing stage's
    // task closure serializes the subquery expression tree — and an
    // analyzed LogicalPlan holds non-serializable file indexes.
    @transient fallback: LogicalPlan,
    ansi: Boolean,
    // batch-direct partial (InsertCacheColumnarToRow peels the transition
    // when the keys columnar-translate — see DriverAgg.colKeyParts)
    columnarChild: Boolean = false,
    // filter conjuncts folded INTO the batch partial (the rule replaces a
    // Filter/CacheFilterExec child with this selection, evaluated per
    // batch by DictSelection's dict/prim/row tiers — the selection-pushed
    // scan). Only ever non-empty together with columnarChild.
    selection: Seq[Expression] = Nil) extends UnaryExecNode {

  require(selection.isEmpty || columnarChild,
    "selection fold requires the batch-direct partial")

  import DriverAgg._

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): DriverGroupAggExec =
    copy(child = c)

  /** Batch-direct partial eligibility against a columnar child: every
    * group key columnar-translates and the value projection's inputs
    * resolve in the child's output (they always do — same attrs as the
    * peeled transition's).
    */
  def columnarEligible(c: SparkPlan): Boolean =
    DriverAgg.colKeyParts(groupExprs, c.output).isDefined &&
      aggInputs.forall(_.references.subsetOf(c.outputSet))

  /** Slot semantics for this aggregate's layout (inputs read with their
    * own types: value-projection rows, direct columns, or compiled double
    * vectors).
    */
  private def kernel = new SlotKernel(slots, aggInputs.map(_.dataType), aggTypes,
    nL, nD, nF, ansi, nS, nO)

  /** Dense direct-index eligibility: ONE calendar-bucket key, every
    * aggregate input a direct primitive column, and only flat-array
    * state (no distinct sets, no string min/max). The bucket domain is
    * the fixed 1900-2100 calendar window — out-of-window rows take a
    * per-row overflow map inside the arm, so eligibility never depends
    * on (possibly lying) statistics.
    */
  private def denseCalendarSpec: Option[(DriverAgg.CalendarKeyPart, Array[Int])] = {
    // a folded selection routes through the generic batch partial (whose
    // loop evaluates it); the dense arm stays filter-free
    if (!DriverAgg.denseCalendarEnabled || nS != 0 || nO != 0 ||
      selection.nonEmpty) return None
    DriverAgg.colKeyParts(groupExprs, child.output) match {
      case Some(Seq(c: DriverAgg.CalendarKeyPart)) =>
        val inputsOk = aggInputs.forall {
          case a: AttributeReference =>
            SlotKernel.typeCode(a.dataType) >= 0 &&
              child.output.exists(_.exprId == a.exprId)
          case _ => false
        }
        if (inputsOk)
          Some((c, aggInputs.map(e => child.output.indexWhere(
            _.exprId == e.asInstanceOf[AttributeReference].exprId)).toArray))
        else None
      case _ => None
    }
  }

  /** Dense direct-index partial — the perfect-hash aggregate proper.
    * For a single calendar key the key is one LUT read off the micros
    * vector and group state is the kernel's flat primitive arrays
    * indexed by bucket ordinal — no hash probe, no per-group object.
    * Out-of-window days (outside 1900-2100) fall into a per-row
    * overflow hash map — slower rows, never a wrong answer. Emits the
    * same (key-row bytes, Acc) payload, so the driver merge is shared.
    */
  private def runDenseCalendarPartials(
      key: DriverAgg.CalendarKeyPart,
      dirOrds: Array[Int]): Array[Array[(Array[Byte], Acc)]] = {
    import graft.functions.DateTruncKernel
    val kCode = DateTruncKernel.kernelCode(key.kernel)
    val nBuck = DateTruncKernel.denseBuckets(key.kernel) + 1 // 0 = NULL key
    val asDate = key.asDate
    val keyOrd = key.ord
    val keyTypes = groupExprs.map(_.dataType).toArray
    val k = kernel
    val cap = maxGroups
    sparkContext.runJob(child.executeColumnar(),
        (batches: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]) => {
      val (aL, aD, aF) = (k.nL, k.nD, k.nF)
      val longsA = new Array[Long](nBuck * aL)
      val doublesA = new Array[Double](nBuck * aD)
      val flagsA = new Array[Boolean](nBuck * aF)
      val touched = new Array[Boolean](nBuck)
      // in-window dense buckets count toward maxGroups exactly like the
      // generic partial's per-partition group cap — without this, a
      // caller-supplied cap below the bucket count would silently pass
      // here while the generic arm throws GroupCardinalityExceeded
      var touchedCount = 0
      // out-of-window rows (truncated key value -> Acc), built lazily
      var ovf: java.util.HashMap[java.lang.Long, Acc] = null
      batches.foreach { batch =>
        val v0 = batch.column(keyOrd)
        val inVecs = dirOrds.map(batch.column)
        val n = batch.numRows()
        var r = 0
        while (r < n) {
          var b = 0
          var acc: Acc = null
          if (!v0.isNullAt(r)) {
            val us = v0.getLong(r)
            val o = DateTruncKernel.denseOrd(kCode,
              Math.floorDiv(us, 86400000000L))
            if (o >= 0) b = o + 1
            else {
              if (ovf == null) ovf = new java.util.HashMap()
              val kv = java.lang.Long.valueOf(key.eval(us))
              acc = ovf.get(kv)
              if (acc == null) {
                if (touchedCount + ovf.size() >= cap) throw new GroupCardinalityExceeded(
                  s"driver agg: dense overflow exceeded maxGroups=$cap")
                acc = k.newAcc()
                ovf.put(kv, acc)
              }
            }
          }
          if (acc != null) k.updateCol(inVecs, r, acc.longs, acc.doubles, acc.flags, 0)
          else {
            if (!touched(b)) {
              val ovfSize = if (ovf == null) 0 else ovf.size()
              if (touchedCount + ovfSize >= cap) throw new GroupCardinalityExceeded(
                s"driver agg: dense buckets exceeded maxGroups=$cap")
              touched(b) = true
              touchedCount += 1
            }
            k.updateCol(inVecs, r, longsA, doublesA, flagsA, b)
          }
          r += 1
        }
      }
      // same payload as the hashed path: exact-layout key rows + state
      val keyProj = UnsafeProjection.create(keyTypes)
      val krow = new GenericInternalRow(1)
      val out = new ArrayBuffer[(Array[Byte], Acc)]()
      var b = 0
      while (b < nBuck) {
        if (touched(b)) {
          if (b == 0) krow.update(0, null)
          else {
            val sd = DateTruncKernel.denseStartDay(kCode, b - 1)
            krow.update(0,
              if (asDate) sd.toInt else java.lang.Long.valueOf(sd * 86400000000L))
          }
          val acc = new Acc(
            java.util.Arrays.copyOfRange(longsA, b * aL, b * aL + aL),
            java.util.Arrays.copyOfRange(doublesA, b * aD, b * aD + aD),
            java.util.Arrays.copyOfRange(flagsA, b * aF, b * aF + aF))
          out += ((keyProj(krow).copy().getBytes, acc))
        }
        b += 1
      }
      if (ovf != null) {
        val it = ovf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          krow.update(0,
            if (asDate) e.getKey.longValue().toInt else e.getKey)
          out += ((keyProj(krow).copy().getBytes, e.getValue))
        }
      }
      out.toArray
    })
  }

  /** Batch-direct partial: specialized key extraction off column vectors
    * (long reads, hour-bucket arithmetic, string interning to task-local
    * ids) into an open-addressing composite-long table; aggregate inputs
    * read straight off the batch's vectors (direct columns, or compiled
    * double trees over them), falling back to the ordinary value
    * projection over the batch's row VIEW (no column-to-row
    * materialization). Emits the same (key-row bytes, Acc) payload as
    * the row path, so the driver merge is shared. Measured ~250 → ~70
    * ns/row on the sf1 tumbling partial (PERF.md r7).
    */
  private def runColumnarPartials(): Array[Array[(Array[Byte], Acc)]] = {
    val partsSpec = DriverAgg.colKeyParts(groupExprs, child.output).get.toArray
    val iExprs = aggInputs
    val childOut = child.output
    val cap = maxGroups
    val k = kernel
    val keyTypes = groupExprs.map(_.dataType).toArray
    val selPreds: Array[Expression] =
      if (selection.nonEmpty) selection.toArray else null
    val dictKeys = DriverAgg.dictKeysEnabled
    // per-input access plans: direct column or compiled double tree; the
    // vector arm engages only when every input has one (else the rows go
    // through the value projection)
    val inPlans: Array[DriverAgg.InPlan] = iExprs.map {
      case a: AttributeReference if childOut.exists(_.exprId == a.exprId) =>
        DriverAgg.DirectIn(childOut.indexWhere(_.exprId == a.exprId))
      case e if DriverAgg.exprVecEnabled =>
        DriverAgg.compileDouble(e, childOut).orNull
      case _ => null
    }.toArray
    val vectorArm = inPlans.forall(_ != null)
    sparkContext.runJob(child.executeColumnar(),
        (batches: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]) => {
      import graft.functions.DistinctWithHll.scramble
      val valProj = UnsafeProjection.create(iExprs, childOut)
      val nParts = partsSpec.length
      val interns = new Array[java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, Integer]](nParts)
      val internVals = new Array[ArrayBuffer[
        org.apache.spark.unsafe.types.UTF8String]](nParts)
      var c0 = 0
      while (c0 < nParts) {
        if (partsSpec(c0).isInstanceOf[DriverAgg.StringKeyPart]) {
          interns(c0) = new java.util.HashMap()
          internVals(c0) = new ArrayBuffer()
        }
        c0 += 1
      }
      // (k1, k2, nullBits) -> dense group index, open addressing
      var mask = (1 << 10) - 1
      var table = Array.fill(mask + 1)(-1)
      var gk1 = new Array[Long](512)
      var gk2 = new Array[Long](512)
      var gnull = new Array[Byte](512)
      val accs = new ArrayBuffer[Acc]()
      def hashOf(k1: Long, k2: Long, nb: Int): Long =
        scramble(k1 ^ (k2 * 0x9E3779B97F4A7C15L) ^ nb.toLong)
      def growTable(): Unit = {
        mask = mask * 2 + 1
        table = Array.fill(mask + 1)(-1)
        var g = 0
        while (g < accs.length) {
          var p = (hashOf(gk1(g), gk2(g), gnull(g)) & mask).toInt
          while (table(p) != -1) p = (p + 1) & mask
          table(p) = g
          g += 1
        }
      }
      def newGroup(k1: Long, nb: Int, k2: Long = 0L): Int = {
        if (accs.length >= cap) throw new GroupCardinalityExceeded(
          s"driver agg: group count exceeded maxGroups=$cap in one partition — " +
            "key is not low-cardinality; falling back to the shuffled aggregate")
        val idx = accs.length
        if (idx >= gk1.length) {
          gk1 = java.util.Arrays.copyOf(gk1, gk1.length * 2)
          gk2 = java.util.Arrays.copyOf(gk2, gk2.length * 2)
          gnull = java.util.Arrays.copyOf(gnull, gnull.length * 2)
        }
        gk1(idx) = k1; gk2(idx) = k2; gnull(idx) = nb.toByte
        accs += k.newAcc()
        idx
      }
      // dense single-string-key arm state (see the directArm loop below)
      val directArm = DriverAgg.directStringArm &&
        nParts == 1 && partsSpec(0).isInstanceOf[DriverAgg.StringKeyPart]
      var directIdx: Array[Int] = if (directArm) Array.fill(1 << 12)(-1) else null
      var nullGroup = -1
      // ungrouped arm state: the partition's single Acc
      var acc0: Acc = null
      def intern(ci: Int,
          s: org.apache.spark.unsafe.types.UTF8String): Int = {
        val boxed = interns(ci).get(s)
        if (boxed != null) boxed.intValue()
        else {
          val copy = s.clone()
          val id = internVals(ci).length
          interns(ci).put(copy, Integer.valueOf(id))
          internVals(ci) += copy
          id
        }
      }
      def extract(spec: DriverAgg.ColKeyPart, ci: Int,
          vec: org.apache.spark.sql.vectorized.ColumnVector, r: Int): Long =
        spec match {
          case DriverAgg.LongKeyPart(_, true, _) => vec.getInt(r).toLong
          case DriverAgg.LongKeyPart(_, false, _) => vec.getLong(r)
          case DriverAgg.TruncKeyPart(_, u) =>
            val m = vec.getLong(r); m - Math.floorMod(m, u)
          case c: DriverAgg.CalendarKeyPart => c.eval(vec.getLong(r))
          case _: DriverAgg.StringKeyPart => intern(ci, vec.getUTF8String(r)).toLong
        }
      // selection: the folded filter's conjuncts, classified per batch
      // into DictSelection's dict/prim/row tiers
      val sel = if (selPreds == null) null else new DictSelection(selPreds, childOut)
      // dict-id fast keys: per-batch dictionary ids remapped to task
      // intern ids once per batch (≤ entries probes), rows key by an
      // int-array read instead of a per-row UTF8String hash probe
      val dictIdArr = new Array[Array[Int]](nParts)
      val dictRemap = new Array[Array[Int]](nParts)
      batches.foreach { batch =>
        val v0 = if (nParts == 0) null else batch.column(partsSpec(0).ord)
        val v1 = if (nParts > 1) batch.column(partsSpec(1).ord) else null
        var c1 = 0
        while (c1 < nParts) {
          dictIdArr(c1) = null
          if (dictKeys && partsSpec(c1).isInstanceOf[DriverAgg.StringKeyPart]) {
            (if (c1 == 0) v0 else v1) match {
              case g: GraftColumnVector => g.store match {
                case d: GraftCacheSerializer.DictStore =>
                  val remap = new Array[Int](d.entries)
                  var e = 0
                  while (e < d.entries) {
                    remap(e) = intern(c1, org.apache.spark.unsafe.types.UTF8String
                      .fromBytes(d.dict, d.dictOffsets(e),
                        d.dictOffsets(e + 1) - d.dictOffsets(e)))
                    e += 1
                  }
                  dictIdArr(c1) = d.ids
                  dictRemap(c1) = remap
                case _ =>
              }
              case _ =>
            }
          }
          c1 += 1
        }
        if (sel != null) sel.reset(batch)
        val inVecs: Array[org.apache.spark.sql.vectorized.ColumnVector] =
          if (!vectorArm) null
          else {
            val cols =
              if (inPlans.exists(_.isInstanceOf[DriverAgg.CompiledIn]))
                Array.tabulate(batch.numCols())(batch.column)
              else null
            inPlans.map {
              case DriverAgg.DirectIn(o) => batch.column(o)
              case DriverAgg.CompiledIn(p, ords) =>
                new DriverAgg.CompiledDoubleVector(p, ords, cols)
            }
          }
        def update(r: Int, acc: Acc): Unit =
          if (inVecs != null) {
            k.updateCol(inVecs, r, acc.longs, acc.doubles, acc.flags, 0)
            if (k.hasObj) k.updateColObj(inVecs, r, acc)
          } else {
            val v = valProj(batch.getRow(r))
            k.updateRow(v, acc.longs, acc.doubles, acc.flags, 0)
            if (k.hasObj) k.updateRowObj(v, acc)
          }
        val n = batch.numRows()
        var r = 0
        if (nParts == 0) {
          // UNGROUPED: one Acc per partition and no key work at all —
          // the fused scan→ungrouped-aggregate (reference:
          // src/execution/operator/aggregate/
          // physical_ungrouped_aggregate.cpp). With vector inputs, flat
          // state and no selection the update runs COLUMN-MAJOR (one
          // sequential pass per slot); otherwise row by row with the
          // selection in front.
          if (acc0 == null) acc0 = accs(newGroup(0L, 0))
          if (sel == null && inVecs != null && !k.hasObj)
            k.updateColumnMajor(inVecs, n, acc0.longs, acc0.doubles, acc0.flags, 0)
          else while (r < n) {
            if (sel == null || sel.passes(r)) update(r, acc0)
            r += 1
          }
        } else if (directArm) {
          // dense single-string-key arm: the intern id IS dense (0..N in
          // first-intern order), so groups index DIRECTLY by it — no hash,
          // no probe loop, no key compare per row. This is the reference's
          // perfect-hash group-by over dictionary ids
          // (physical_perfect_hash_aggregate.cpp) applied to the interned
          // string domain.
          while (r < n) {
            if (sel == null || sel.passes(r)) {
              var idx = -1
              if (v0.isNullAt(r)) {
                if (nullGroup == -1) nullGroup = newGroup(0L, 1)
                idx = nullGroup
              } else {
                val k1i = if (dictIdArr(0) != null) dictRemap(0)(dictIdArr(0)(r))
                  else extract(partsSpec(0), 0, v0, r).toInt
                if (k1i >= directIdx.length) {
                  val grown = new Array[Int](math.max(directIdx.length * 2, k1i + 1))
                  java.util.Arrays.fill(grown, directIdx.length, grown.length, -1)
                  System.arraycopy(directIdx, 0, grown, 0, directIdx.length)
                  directIdx = grown
                }
                idx = directIdx(k1i)
                if (idx == -1) { idx = newGroup(k1i.toLong, 0); directIdx(k1i) = idx }
              }
              update(r, accs(idx))
            }
            r += 1
          }
        } else {
          while (r < n) {
            if (sel == null || sel.passes(r)) {
              var nb = 0
              var k1 = 0L
              var k2 = 0L
              if (v0.isNullAt(r)) nb |= 1
              else k1 = if (dictIdArr(0) != null) dictRemap(0)(dictIdArr(0)(r)).toLong
                else extract(partsSpec(0), 0, v0, r)
              if (v1 != null) {
                if (v1.isNullAt(r)) nb |= 2
                else k2 = if (dictIdArr(1) != null) dictRemap(1)(dictIdArr(1)(r)).toLong
                  else extract(partsSpec(1), 1, v1, r)
              }
              var p = (hashOf(k1, k2, nb) & mask).toInt
              var idx = table(p)
              while (idx != -1 &&
                  !(gk1(idx) == k1 && gk2(idx) == k2 && gnull(idx) == nb.toByte)) {
                p = (p + 1) & mask
                idx = table(p)
              }
              if (idx == -1) {
                idx = newGroup(k1, nb, k2)
                table(p) = idx
                if (accs.length * 2 > mask) growTable()
              }
              update(r, accs(idx))
            }
            r += 1
          }
        }
      }
      // same payload as the row path: exact-layout key rows + state
      val keyProj = UnsafeProjection.create(keyTypes)
      val krow = new GenericInternalRow(nParts)
      val out = new Array[(Array[Byte], Acc)](accs.length)
      var g = 0
      while (g < accs.length) {
        var ci = 0
        while (ci < nParts) {
          val isNull = ((gnull(g) >> ci) & 1) == 1
          val kv = if (ci == 0) gk1(g) else gk2(g)
          krow.update(ci,
            if (isNull) null
            else partsSpec(ci) match {
              case DriverAgg.LongKeyPart(_, _, IntegerType | DateType) => kv.toInt
              case DriverAgg.CalendarKeyPart(_, _, true) => kv.toInt
              case _: DriverAgg.StringKeyPart => internVals(ci)(kv.toInt)
              case _ => kv
            })
          ci += 1
        }
        out(g) = (keyProj(krow).copy().getBytes, accs(g))
        g += 1
      }
      out
    })
  }

  /** The single distributed job + driver finalize. */
  private def finalRows(): Array[InternalRow] = {
    val gExprs = groupExprs
    val iExprs = aggInputs
    val childOut = child.output
    val cap = maxGroups
    val k = kernel

    val parts: Array[Array[(Array[Byte], Acc)]] =
      if (columnarChild) denseCalendarSpec match {
        case Some((key, dirOrds)) => runDenseCalendarPartials(key, dirOrds)
        case None => runColumnarPartials()
      }
      else sparkContext.runJob(child.execute(), (rows: Iterator[InternalRow]) => {
        val keyProj = UnsafeProjection.create(gExprs, childOut)
        val valProj = UnsafeProjection.create(iExprs, childOut)
        val m = new java.util.HashMap[UnsafeRow, Acc]()
        while (rows.hasNext) {
          val row = rows.next()
          val key = keyProj(row)
          var acc = m.get(key)
          if (acc == null) {
            if (m.size() >= cap) throw new GroupCardinalityExceeded(
              s"driver agg: group count exceeded maxGroups=$cap in one partition — " +
                "key is not low-cardinality; falling back to the shuffled aggregate")
            acc = k.newAcc()
            m.put(key.copy(), acc)
          }
          val v = valProj(row)
          k.updateRow(v, acc.longs, acc.doubles, acc.flags, 0)
          if (k.hasObj) k.updateRowObj(v, acc)
        }
        val out = new Array[(Array[Byte], Acc)](m.size())
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next(); out(i) = (e.getKey.getBytes, e.getValue); i += 1
        }
        out
      })

    val nKeys = groupExprs.length
    val merged = new java.util.LinkedHashMap[UnsafeRow, Acc]()
    parts.foreach(_.foreach { case (bytes, acc) =>
      val key = new UnsafeRow(nKeys)
      key.pointTo(bytes, bytes.length)
      val cur = merged.get(key)
      if (cur == null) {
        if (merged.size() >= maxGroups) throw new GroupCardinalityExceeded(
          s"driver agg: merged group count exceeded maxGroups=$maxGroups")
        merged.put(key, acc)
      } else k.mergeAcc(cur, acc)
    })
    // a GLOBAL aggregate over empty input still yields one (empty) group
    if (nKeys == 0 && merged.isEmpty)
      merged.put(UnsafeProjection.create(Seq.empty[Expression], Seq.empty)(
        InternalRow.empty).copy(), k.newAcc())

    val proj = UnsafeProjection.create(finalExprs)
    val keyTypes = groupExprs.map(_.dataType)
    val evalRow = new SpecificInternalRow(keyTypes ++ aggTypes)
    val rows = new ArrayBuffer[InternalRow](merged.size())
    merged.forEach { (key, acc) =>
      var i = 0
      while (i < nKeys) { evalRow.update(i, key.get(i, keyTypes(i))); i += 1 }
      k.writeFinals(acc, evalRow, nKeys)
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
  private def rowsWithFallback(): Array[InternalRow] =
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
        DriverAgg.replanning.set(java.lang.Boolean.TRUE)
        try org.apache.spark.sql.graft.bridge.ofRows(session, fallback)
          .queryExecution.executedPlan.executeCollect()
        finally DriverAgg.replanning.set(java.lang.Boolean.FALSE)
    }

  override def executeCollect(): Array[InternalRow] = rowsWithFallback()

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rowsWithFallback().toIndexedSeq, 1)
}
