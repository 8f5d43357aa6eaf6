package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BasePredicate, Expression, GenericInternalRow, Predicate, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.unsafe.types.UTF8String

/** Per-batch dictionary-or-fallback evaluator for a conjunction of
  * predicates — the shared core of [[CacheFilterExec]] and the
  * selection-pushed batch loops ([[SortedRunAggExec]],
  * [[PackedPartialAggExec]]). Instantiate once per task, `reset` per
  * batch, then `passes(r)` per row.
  *
  * Four evaluation tiers per (conjunct, batch):
  *  1. DICT — the column is dictionary-encoded: evaluate once per
  *     distinct value, test rows by id lookup.
  *  2. BLOB — the column spilled to the dense blob layout and the
  *     conjunct is a (possibly negated) Contains / StartsWith /
  *     EndsWith / EqualTo against a literal (Catalyst rewrites
  *     `LIKE '%x%'` to Contains): evaluate directly over the
  *     contiguous (blob, offsets) arrays. Contains searches the WHOLE
  *     blob once, mapping hits to rows with a running row pointer and
  *     skipping the rest of a matched row — no per-row UTF8String
  *     allocation, no per-row call. Byte-level search is exact on
  *     UTF-8 (self-synchronizing). The reference runs the same
  *     string-pushdown over its compressed string segments.
  *  3. PRIM — a single-column comparison against a literal over a
  *     primitive-backed vector (`l_shipdate <= TIMESTAMP '…'`,
  *     `x > 4`, IS [NOT] NULL): one typed vector read + compare per
  *     row, no row view. NULL compares never pass (SQL filter
  *     semantics).
  *  4. ROW — anything else (incl. multi-column conjuncts): a compiled
  *     predicate on the batch row.
  */
final class DictSelection(
    preds: Array[Expression],
    childOutput: Seq[Attribute]) {
  private val k = preds.length
  // single-column conjuncts classify into the dict/blob/prim tiers;
  // anything else (0 or 2+ referenced columns) rides the row fallback
  private val ordinals = preds.map { p =>
    if (p.references.size != 1) -1
    else childOutput.indexWhere(_.exprId == p.references.head.exprId)
  }
  private val single: Array[BasePredicate] =
    preds.zipWithIndex.map { case (p, i) =>
      if (ordinals(i) < 0 ||
          childOutput(ordinals(i)).dataType != org.apache.spark.sql.types.StringType) null
      else Predicate.create(p, Seq(childOutput(ordinals(i))))
    }
  private val fallback: Array[BasePredicate] =
    preds.map(p => Predicate.create(p, childOutput))
  private val probe = new GenericInternalRow(1)

  // (op, needle, negated) for blob-direct conjuncts; op: 0=contains,
  // 1=startswith, 2=endswith, 3=equals, 4=isnotnull (5=isnull via negate)
  private val blobOps: Array[(Int, Array[Byte], Boolean)] = preds.map { p =>
    import org.apache.spark.sql.catalyst.expressions.{Contains, EndsWith, EqualTo, IsNotNull, IsNull, Literal, Not, StartsWith}
    def lit(e: Expression): Option[Array[Byte]] = e match {
      case Literal(s: UTF8String, _) if s != null => Some(s.getBytes)
      case _ => None
    }
    def base(e: Expression): Option[(Int, Array[Byte])] = e match {
      case Contains(_: Attribute, l) => lit(l).map((0, _))
      case StartsWith(_: Attribute, l) => lit(l).map((1, _))
      case EndsWith(_: Attribute, l) => lit(l).map((2, _))
      case EqualTo(_: Attribute, l) => lit(l).map((3, _))
      case EqualTo(l, _: Attribute) => lit(l).map((3, _))
      case IsNotNull(_: Attribute) => Some((4, Array.emptyByteArray))
      case _ => None
    }
    (p match {
      case IsNull(_: Attribute) => Some((5, Array.emptyByteArray, false))
      case Not(inner) => base(inner).map { case (op, n) => (op, n, true) }
      case other => base(other).map { case (op, n) => (op, n, false) }
    }).orNull
  }

  // PRIM tier: (op, long-or-double threshold, read code) for
  // single-column literal comparisons over primitive vectors.
  // op: 0 <, 1 <=, 2 >, 3 >=, 4 =, 5 isnotnull, 6 isnull; tc: 0 byte,
  // 1 short, 2 int/date, 3 long/ts/ntz, 4 float, 5 double
  // float/double columns are EXCLUDED from this tier (isnull/isnotnull
  // aside): Spark compares under a total order where NaN = NaN is true
  // and NaN sorts greatest — Java primitive compares diverge on NaN
  // rows, so fractional comparisons ride the row fallback.
  private final class PrimOp(val ord: Int, val op: Int,
      val thrL: Long, val thrD: Double, val tc: Int) {
    var vec: org.apache.spark.sql.vectorized.ColumnVector = _
    def eval(r: Int): Boolean = {
      val isNull = vec.isNullAt(r)
      if (op == 5) !isNull
      else if (op == 6) isNull
      else if (isNull) false
      else {
        val x = tc match {
          case 0 => vec.getByte(r).toLong
          case 1 => vec.getShort(r).toLong
          case 2 => vec.getInt(r).toLong
          case _ => vec.getLong(r)
        }
        op match {
          case 0 => x < thrL
          case 1 => x <= thrL
          case 2 => x > thrL
          case 3 => x >= thrL
          case _ => x == thrL
        }
      }
    }
  }

  private def primTypeCode(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => 0
      case ShortType => 1
      case IntegerType | DateType => 2
      case LongType | TimestampType | TimestampNTZType => 3
      case FloatType => 4
      case DoubleType => 5
      case _ => -1
    }
  }

  private val primOps: Array[PrimOp] = preds.zipWithIndex.map { case (p, i) =>
    import org.apache.spark.sql.catalyst.expressions._
    val ord = ordinals(i)
    val tc = if (ord < 0) -1 else primTypeCode(childOutput(ord).dataType)
    def thr(l: Any): Option[(Long, Double)] = l match {
      case b: Byte => Some((b.toLong, b.toDouble))
      case s: Short => Some((s.toLong, s.toDouble))
      case x: Int => Some((x.toLong, x.toDouble))
      case x: Long => Some((x, x.toDouble))
      case f: Float => Some((0L, f.toDouble))
      case d: Double => Some((0L, d))
      case _ => None
    }
    // op with the attribute on the LEFT; a literal-left compare flips
    def mk(op: Int, lv: Any): PrimOp =
      thr(lv).map { case (l, d) => new PrimOp(ord, op, l, d, tc) }.orNull
    def flip(op: Int): Int = op match {
      case 0 => 2; case 1 => 3; case 2 => 0; case 3 => 1; case x => x
    }
    if (tc < 0) null
    else if (tc >= 4) p match { // fractional: null checks only (NaN order)
      case IsNotNull(_: Attribute) => new PrimOp(ord, 5, 0L, 0d, tc)
      case IsNull(_: Attribute) => new PrimOp(ord, 6, 0L, 0d, tc)
      case _ => null
    }
    else p match {
      case IsNotNull(_: Attribute) => new PrimOp(ord, 5, 0L, 0d, tc)
      case IsNull(_: Attribute) => new PrimOp(ord, 6, 0L, 0d, tc)
      // literal-type match: the analyzer casts both sides to one type, so
      // a same-type literal is the only shape that reaches here un-cast
      case LessThan(_: Attribute, Literal(v, t)) if t == childOutput(ord).dataType => mk(0, v)
      case LessThanOrEqual(_: Attribute, Literal(v, t)) if t == childOutput(ord).dataType => mk(1, v)
      case GreaterThan(_: Attribute, Literal(v, t)) if t == childOutput(ord).dataType => mk(2, v)
      case GreaterThanOrEqual(_: Attribute, Literal(v, t)) if t == childOutput(ord).dataType => mk(3, v)
      case EqualTo(_: Attribute, Literal(v, t)) if t == childOutput(ord).dataType => mk(4, v)
      case LessThan(Literal(v, t), _: Attribute) if t == childOutput(ord).dataType => mk(flip(0), v)
      case LessThanOrEqual(Literal(v, t), _: Attribute) if t == childOutput(ord).dataType => mk(flip(1), v)
      case GreaterThan(Literal(v, t), _: Attribute) if t == childOutput(ord).dataType => mk(flip(2), v)
      case GreaterThanOrEqual(Literal(v, t), _: Attribute) if t == childOutput(ord).dataType => mk(flip(3), v)
      case EqualTo(Literal(v, t), _: Attribute) if t == childOutput(ord).dataType => mk(4, v)
      case _ => null
    }
  }

  private val idTables = new Array[Array[Boolean]](k) // per-dict-id pass table
  private val nullPass = new Array[Boolean](k)
  private val idCols = new Array[Array[Int]](k)
  private val nullMasks = new Array[Array[Boolean]](k)
  private val rowMasks = new Array[Array[Boolean]](k) // blob-direct per-row result
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _

  /** Classify each conjunct for this batch: dict-id table when the
    * column dict-encoded, blob-direct mask for literal string ops on a
    * spilled column, row fallback otherwise. */
  def reset(b: org.apache.spark.sql.vectorized.ColumnarBatch): Unit = {
    batch = b
    val n = b.numRows()
    var i = 0
    while (i < k) {
      idTables(i) = null
      rowMasks(i) = null
      if (primOps(i) != null) primOps(i).vec = b.column(ordinals(i))
      else if (ordinals(i) >= 0 && single(i) != null) b.column(ordinals(i)) match {
        case g: GraftColumnVector => g.store match {
          case d: GraftCacheSerializer.DictStore =>
            val entries = d.entries
            val ok = new Array[Boolean](entries)
            var e = 0
            while (e < entries) {
              probe.update(0, UTF8String.fromBytes(
                d.dict, d.dictOffsets(e), d.dictOffsets(e + 1) - d.dictOffsets(e)))
              ok(e) = single(i).eval(probe)
              e += 1
            }
            // null verdict only when the batch HAS nulls: a predicate
            // codegen'd for a non-nullable column (e.g. a concat-derived
            // key) NPEs on a null probe, and passes() never consults
            // nullPass when the null mask is absent
            if (d.nulls != null) {
              probe.update(0, null)
              nullPass(i) = single(i).eval(probe)
            } else nullPass(i) = false
            idTables(i) = ok
            idCols(i) = d.ids
            nullMasks(i) = d.nulls
          case bs: GraftCacheSerializer.BlobStore if blobOps(i) != null =>
            rowMasks(i) = DictSelection.blobMask(bs, n, blobOps(i))
          case _ =>
        }
        case _ =>
      }
      i += 1
    }
  }

  def passes(r: Int): Boolean = {
    var pass = true
    var i = 0
    while (pass && i < k) {
      val mask = rowMasks(i)
      if (mask != null) pass = mask(r)
      else if (primOps(i) != null) pass = primOps(i).eval(r)
      else {
        val tbl = idTables(i)
        if (tbl != null) {
          val nm = nullMasks(i)
          pass = if (nm != null && nm(r)) nullPass(i) else tbl(idCols(i)(r))
        } else pass = fallback(i).eval(batch.getRow(r))
      }
      i += 1
    }
    pass
  }
}

object DictSelection {
  import GraftCacheSerializer.BlobStore

  /** Per-row result of a literal string op over the dense blob layout.
    * NULL rows are false regardless of negation (SQL: NULL predicate
    * never passes a filter).
    */
  private[graft] def blobMask(bs: BlobStore, n: Int,
      op: (Int, Array[Byte], Boolean)): Array[Boolean] = {
    val (kind, needle, negated) = op
    val (blob, offsets, nulls) = (bs.blob, bs.offsets, bs.nulls)
    val mask = new Array[Boolean](n)
    val len = needle.length
    kind match {
      case 0 if len == 0 => // contains('') is true for every non-null row
        var r = 0
        while (r < n) { mask(r) = true; r += 1 }
      case 0 =>
        // single pass over the contiguous blob; running row pointer maps
        // hit positions to rows, a matched row is skipped past entirely
        var r = 0
        var p = 0
        val last = blob.length - len
        val b0 = needle(0)
        while (p <= last) {
          if (blob(p) == b0) {
            var j = 1
            while (j < len && blob(p + j) == needle(j)) j += 1
            if (j == len) {
              while (offsets(r + 1) <= p) r += 1
              if (p + len <= offsets(r + 1)) { mask(r) = true; p = offsets(r + 1) - 1 }
              // else: the hit crosses the row end; any fitting hit in
              // row r would have started earlier — move on
            }
          }
          p += 1
        }
      case 1 => // startswith
        var r = 0
        while (r < n) {
          val s = offsets(r)
          if (offsets(r + 1) - s >= len) {
            var j = 0
            while (j < len && blob(s + j) == needle(j)) j += 1
            mask(r) = j == len
          }
          r += 1
        }
      case 2 => // endswith
        var r = 0
        while (r < n) {
          val e = offsets(r + 1)
          if (e - offsets(r) >= len) {
            val s = e - len
            var j = 0
            while (j < len && blob(s + j) == needle(j)) j += 1
            mask(r) = j == len
          }
          r += 1
        }
      case 4 => // isnotnull: true everywhere, the null pass below clears
        var r = 0
        while (r < n) { mask(r) = true; r += 1 }
      case 5 => // isnull: ONLY null rows pass — returns directly (the
        // shared null-clearing pass below must not apply)
        if (nulls != null) {
          var r = 0
          while (r < n) { mask(r) = nulls(r); r += 1 }
        }
        return mask
      case 3 => // equals
        var r = 0
        while (r < n) {
          val s = offsets(r)
          if (offsets(r + 1) - s == len) {
            var j = 0
            while (j < len && blob(s + j) == needle(j)) j += 1
            mask(r) = j == len
          }
          r += 1
        }
    }
    if (negated) {
      var r = 0
      while (r < n) { mask(r) = !mask(r); r += 1 }
    }
    // NULL rows never pass, negated or not
    if (nulls != null) {
      var r = 0
      while (r < n) { if (nulls(r)) mask(r) = false; r += 1 }
    }
    mask
  }
}

/** Filter over the graft columnar cache that evaluates string predicates
  * per DICTIONARY ENTRY instead of per row.
  *
  * Created by [[graft.rules.DictFilterScan]] for `Filter` (optionally
  * under a pruning `Project`) directly over a columnar cache scan whose
  * conjuncts each reference exactly one string column. For every cached
  * batch whose column is a [[GraftCacheSerializer.DictStore]], the
  * conjunct runs once per distinct value (≤ MaxDictEntries, typically a
  * handful) to produce an id→boolean table; the 6M-row scan then checks
  * `ok(ids(row))` — an int load + array index — instead of materializing
  * and comparing a UTF8String per row. Batches whose column spilled to
  * the dense blob layout fall back to a compiled row predicate, so the
  * operator is never worse than the stock filter by more than an
  * iterator hop. This is the reference engine's dictionary filter
  * pushdown (reference: /root/reference/src/storage/compression/
  * dictionary/ + string filter pushdown in the table scan) re-expressed
  * over Spark's cached-batch serializer.
  *
  * Scale posture: purely partition-local — dictionaries are per batch,
  * no driver state, no shuffle change; the operator only shrinks the
  * rows flowing into the aggregation above it.
  */
final case class CacheFilterExec(
    output: Seq[Attribute],
    conjuncts: Seq[Expression],
    child: SparkPlan) extends UnaryExecNode {

  require(conjuncts.nonEmpty)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(c: SparkPlan): CacheFilterExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val preds = conjuncts.toArray
    val outExprs = output
    val numOut = longMetric("numOutputRows")
    child.executeColumnar().mapPartitions ({ batches =>
      val sel = new DictSelection(preds, childOutput)
      val proj = UnsafeProjection.create(outExprs, childOutput)
      batches.flatMap { batch =>
        val n = batch.numRows()
        sel.reset(batch)
        new Iterator[InternalRow] {
          private var r = 0
          private var ready = false
          private def advance(): Unit = {
            while (r < n && !ready) {
              if (sel.passes(r)) ready = true else r += 1
            }
          }
          def hasNext: Boolean = { if (!ready) advance(); ready }
          def next(): InternalRow = {
            if (!ready) advance()
            val row = proj(batch.getRow(r))
            numOut += 1
            r += 1; ready = false
            row
          }
        }
      }
    }, preservesPartitioning = true)
  }
}
