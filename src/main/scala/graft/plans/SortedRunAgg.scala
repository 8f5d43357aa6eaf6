package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.DataType

import scala.collection.mutable.ArrayBuffer

/** Streaming aggregation over RUN-clustered input — the sorted-storage
  * answer to the groups ≈ rows regime.
  *
  * When the child is sorted on a prefix of the grouping columns (graft's
  * clustered cache: lineitem sorted by l_orderkey) and partitioned so
  * groups are whole per partition, a Complete-mode hash aggregate
  * builds a map of EVERY group in the partition (millions of entries,
  * cache-hostile probes) even though all rows of a group arrive
  * contiguously. This operator keeps state for ONE prefix run at a
  * time: a tiny flat-state map over the (≤1) remaining grouping column,
  * reset at each prefix boundary, groups emitted as their run closes.
  * Per-row cost is an L1-resident small-map probe instead of a
  * giant-map probe; memory is O(groups per run) instead of O(groups per
  * partition).
  *
  * Equal-contiguity is all that is required — any sort direction (and
  * any null ordering) clusters equal prefix values, so the rule only
  * checks the ordering COLUMNS. Reference analog: sorted/partitioned
  * aggregation fast paths over ordered storage
  * (physical_hash_aggregate.cpp's non-repartitioning path +
  * physical_streaming_window.cpp's run detection shape).
  *
  * Created by [[graft.rules.SortedRunAggRule]] from a collapsed
  * Complete-mode HashAggregate; aggregates compile to
  * [[DriverAgg.layout]] slots, the remaining key widens losslessly to
  * long ([[RadixAgg.supportedKey]]), NULL run keys ride a side
  * accumulator per run.
  */
object SortedRunAggExec {
  /** Where a fused top-n sort key reads from at drain time. */
  sealed trait TopKeySrc extends Serializable
  final case class PrefixTopKey(i: Int) extends TopKeySrc
  case object RunTopKey extends TopKeySrc
  final case class AggTopKey(j: Int) extends TopKeySrc

  /** A TakeOrderedAndProject fused INTO the drain: per closing group the
    * sort tuple is read straight off the accumulator/key primitives and
    * compared against the partition-local bounded heap's worst entry —
    * the group is projected to a row ONLY if it wins a heap place. On
    * groups≈rows shapes this removes the per-group projection, row
    * copy, and the parent's per-row UnsafeRow ordering comparison
    * (millions of rows collapse to `limit` survivors per partition; the
    * parent TakeOrderedAndProject still merges across partitions).
    * Reference analog: TopN sits directly above the aggregate and its
    * per-thread heaps see aggregate output vectors
    * (physical_top_n.cpp:76). Fused only when the sort keys cover ALL
    * grouping columns (a TOTAL order — per-partition pruning is then
    * exact; ties cannot select different surviving rows).
    */
  final case class TopNSpec(limit: Int, srcs: Seq[TopKeySrc],
      desc: Seq[Boolean], nullsFirst: Seq[Boolean])

  /** Bounded top-n of materialized rows keyed by primitive tuples held
    * in parallel arrays. `cand*` hold the current candidate's tuple;
    * `admits` is the per-group fast path (one compare against the worst
    * entry), `insert` materializes a winner.
    *
    * The worst entry is tracked by a binary max-heap ("max" = orders
    * last) over the entry slots: `heap(0)` is the worst once at
    * capacity, so a replace is an O(log cap) sift-down — a linear worst
    * rescan would degrade to O(groups·cap) when input arrives in
    * improving order (every group admits), exactly the regime the fuse
    * targets. Same shape as the reference's per-thread TopN heaps
    * (physical_top_n.cpp).
    */
  final class GroupTopN(cap: Int, nK: Int, isD: Array[Boolean],
      desc: Array[Boolean], nullsFirst: Array[Boolean]) {
    val rows = new Array[InternalRow](cap)
    private val vL = Array.ofDim[Long](nK, cap)
    private val vD = Array.ofDim[Double](nK, cap)
    private val vN = Array.ofDim[Boolean](nK, cap)
    val candL = new Array[Long](nK)
    val candD = new Array[Double](nK)
    val candN = new Array[Boolean](nK)
    var size = 0
    private val heap = new Array[Int](cap)

    // <0 iff the candidate orders strictly before entry e
    private def cmpCand(e: Int): Int = {
      var d = 0
      while (d < nK) {
        val cn = candN(d); val en = vN(d)(e)
        val c =
          if (cn || en) {
            if (cn == en) 0 else if (cn == nullsFirst(d)) -1 else 1
          } else {
            val base = if (isD(d)) java.lang.Double.compare(candD(d), vD(d)(e))
              else java.lang.Long.compare(candL(d), vL(d)(e))
            if (desc(d)) -base else base
          }
        if (c != 0) return c
        d += 1
      }
      0
    }
    private def entryAfter(a: Int, b: Int): Boolean = {
      var d = 0
      while (d < nK) {
        val an = vN(d)(a); val bn = vN(d)(b)
        val c =
          if (an || bn) { if (an == bn) 0 else if (an == nullsFirst(d)) -1 else 1 }
          else {
            val base = if (isD(d)) java.lang.Double.compare(vD(d)(a), vD(d)(b))
              else java.lang.Long.compare(vL(d)(a), vL(d)(b))
            if (desc(d)) -base else base
          }
        if (c != 0) return c > 0
        d += 1
      }
      false
    }
    def admits: Boolean = size < cap || cmpCand(heap(0)) < 0
    private def siftUp(pos0: Int): Unit = {
      var pos = pos0
      while (pos > 0) {
        val parent = (pos - 1) >> 1
        if (!entryAfter(heap(pos), heap(parent))) return
        val t = heap(pos); heap(pos) = heap(parent); heap(parent) = t
        pos = parent
      }
    }
    private def siftDown(pos0: Int): Unit = {
      var pos = pos0
      while (true) {
        val l = 2 * pos + 1
        if (l >= size) return
        var c = l
        val r = l + 1
        if (r < size && entryAfter(heap(r), heap(l))) c = r
        if (!entryAfter(heap(c), heap(pos))) return
        val t = heap(pos); heap(pos) = heap(c); heap(c) = t
        pos = c
      }
    }
    /** Materialize the current candidate (call only when `admits`). */
    def insert(row: InternalRow): Unit = {
      val atCap = size == cap
      val idx = if (atCap) heap(0) else size
      rows(idx) = row
      var d = 0
      while (d < nK) {
        vL(d)(idx) = candL(d); vD(d)(idx) = candD(d); vN(d)(idx) = candN(d)
        d += 1
      }
      if (atCap) siftDown(0)
      else { heap(size) = idx; size += 1; siftUp(size - 1) }
    }
  }

  /** Machinery for the fused top-n drain shared by the batch and row
    * loops ([[SortedRunAggExec]].runBatchTopN / runRowTopN) — the
    * candidate fill, heap admit, and winner materialization are
    * byte-identical between the two, so it lives in ONE place (sort keys
    * and finals come from [[SlotKernel]]). Owns the heap and the output
    * projection; the loops own only the child reads (column vectors vs
    * rows) and run-boundary detection. Construct executor-side (holds an
    * UnsafeProjection).
    */
  final class TopNDrain(
      spec: TopNSpec,
      k: SlotKernel,
      exprs: Seq[NamedExpression], schema: Seq[Attribute],
      pfxTypes: Array[DataType], hasKey: Boolean, kInt: Boolean,
      m: RadixAgg.LongKeyMap, nullM: RadixAgg.LongKeyMap,
      curP: Array[Long], curNull: Array[Boolean]) {
    private val tSrcs = spec.srcs.toArray
    // whether each sort key is a double-valued slot (else compares long)
    private val tIsD: Array[Boolean] = tSrcs.map {
      case AggTopKey(j) => k.sortKeyIsDouble(j)
      case _ => false
    }
    val h = new GroupTopN(spec.limit, tSrcs.length, tIsD,
      spec.desc.toArray, spec.nullsFirst.toArray)
    private val proj = UnsafeProjection.create(exprs, schema)
    private val evalRow = new SpecificInternalRow(schema.map(_.dataType))
    private val nP = pfxTypes.length
    private val keyPos = nP
    private val aggBase = nP + (if (hasKey) 1 else 0)
    private val pInt = pfxTypes.map {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DateType => true
      case _ => false
    }
    var sawNull = false

    // candidate tuple straight off the map's flat state — no Acc copy
    private def fillCand(src: RadixAgg.LongKeyMap, s: Int, key: Long,
        keyNull: Boolean): Unit = {
      var d = 0
      while (d < tSrcs.length) {
        tSrcs(d) match {
          case PrefixTopKey(i) => h.candN(d) = curNull(i); h.candL(d) = curP(i)
          case RunTopKey => h.candN(d) = keyNull; h.candL(d) = key
          case AggTopKey(j) =>
            k.sortKey(j, src.longs, src.doubles, src.flags, s, h.candL, h.candD, h.candN, d)
        }
        d += 1
      }
    }
    /** Drain the closed run's groups against the heap and reset the maps.
      * Tuples are compared BEFORE any row exists; only heap winners are
      * projected and copied.
      */
    def drainRunToHeap(): Unit = {
      var wrotePrefix = false
      def materialize(src: RadixAgg.LongKeyMap, s: Int, keyNull: Boolean): Unit = {
        if (!wrotePrefix) {
          var i = 0
          while (i < nP) {
            if (curNull(i)) evalRow.setNullAt(i)
            else if (pInt(i)) evalRow.setInt(i, curP(i).toInt)
            else evalRow.setLong(i, curP(i))
            i += 1
          }
          wrotePrefix = true
        }
        if (hasKey) {
          if (keyNull) evalRow.setNullAt(keyPos)
          else {
            val key = src.keyAt(s)
            if (kInt) evalRow.setInt(keyPos, key.toInt)
            else evalRow.setLong(keyPos, key)
          }
        }
        k.writeOutputs(src.longs, src.doubles, src.flags, s, evalRow, aggBase)
        h.insert(proj(evalRow).copy())
      }
      m.foreachOccupied { s =>
        fillCand(m, s, m.keyAt(s), keyNull = false)
        if (h.admits) materialize(m, s, keyNull = false)
      }
      if (sawNull) nullM.foreachOccupied { s =>
        fillCand(nullM, s, 0L, keyNull = true)
        if (h.admits) materialize(nullM, s, keyNull = true)
      }
      m.resetOccupied(); nullM.resetOccupied(); sawNull = false
    }
  }
}

final case class SortedRunAggExec(
    prefix: Seq[Attribute],
    runKey: Option[Expression],
    runKeyType: DataType,
    aggInputs: Seq[Expression],
    slots: Seq[DriverAgg.Slot],
    nL: Int, nD: Int, nF: Int,
    aggTypes: Seq[DataType],
    aggAttrs: Seq[Attribute],
    resultExprs: Seq[NamedExpression],
    output: Seq[Attribute],
    child: SparkPlan,
    ansi: Boolean,
    // batch-direct loop over a columnar child (set by the cache-read
    // rewire in rules/VectorizedCacheRead, like the radix partial)
    columnarChild: Boolean = false,
    // selection pushed through from a folded CacheFilterExec: evaluated
    // per batch via dictionary-id tables (plans/DictFilter.DictSelection)
    // so filtered batch-direct aggregation never materializes rows
    selection: Seq[Expression] = Nil,
    // fused partition-local TakeOrderedAndProject (see companion)
    topN: Option[SortedRunAggExec.TopNSpec] = None) extends UnaryExecNode {
  import RadixAgg._

  private def numericRead(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** Batch path needs every read to be a direct numeric column: prefix
    * cols int/long-read, run key supported, agg inputs plain columns.
    */
  def columnarEligible(scan: SparkPlan): Boolean = {
    def direct(e: Expression): Boolean = e match {
      case a: Attribute => scan.output.exists(_.exprId == a.exprId)
      case _ => false
    }
    prefix.forall(a => direct(a) && numericRead(a.dataType)) &&
      runKey.forall(e => direct(e) &&
        (numericRead(runKeyType) || runKeyType == org.apache.spark.sql.types.StringType)) &&
      aggInputs.forall(direct)
  }

  /** Row fallback with DIRECT ordinal reads — prefix and run key read
    * straight off the child row with a primitive boundary compare (no
    * per-row prefix/key projections). Lets the rewrite cover a filtered
    * child (codegen Filter over the columnar scan emits rows).
    */
  def rowDirectEligible: Boolean = {
    def ord(e: Expression): Boolean = e match {
      case a: Attribute => child.output.exists(_.exprId == a.exprId)
      case _ => false
    }
    prefix.forall(a => ord(a) && numericRead(a.dataType)) &&
      runKey.forall(e => ord(e) &&
        (numericRead(runKeyType) || runKeyType == org.apache.spark.sql.types.StringType))
  }

  override def producedAttributes: AttributeSet = AttributeSet(output)
  // resultExprs bind positionally over the (group cols ++ agg values)
  // eval schema, not against the child's columns
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(c: SparkPlan): SortedRunAggExec =
    copy(child = c)

  // one row per group: grouping-attr exprIds survive into `output`, so
  // the child's clustering/ordering claims remain valid when their
  // references do
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case e: Expression if !e.references.subsetOf(outputSet) =>
      org.apache.spark.sql.catalyst.plans.physical
        .UnknownPartitioning(child.outputPartitioning.numPartitions)
    case p => p
  }
  override def outputOrdering: Seq[SortOrder] =
    if (topN.isDefined) Nil // heap emission order is arbitrary
    else child.outputOrdering.takeWhile(_.references.subsetOf(outputSet))

  private def kernel = new SlotKernel(slots, aggInputs.map(_.dataType), aggTypes,
    nL, nD, nF, ansi)

  private val evalSchema: Seq[Attribute] =
    prefix ++ runKey.toSeq.map(_ => keyAttr) ++ aggAttrs
  private lazy val keyAttr: Attribute = runKey.get match {
    case a: Attribute => a
    case e => AttributeReference("run_key", runKeyType)()
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (pfx, rk, iExprs) = (prefix, runKey, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val (childOut, exprs, schema) = (child.output, resultExprs, evalSchema)
    val kT = runKeyType
    val k = kernel
    val pfxTypes = pfx.map(_.dataType)
    if (columnarChild) return if (topN.isDefined) runBatchTopN() else runBatchDirect()
    if (rowDirectEligible) return if (topN.isDefined) runRowTopN() else runRowDirect()
    child.execute().mapPartitions { rows =>
      val prefixProj = UnsafeProjection.create(pfx, childOut)
      val keyProj = rk.map(e => UnsafeProjection.create(Seq(e), childOut))
      val valProj = UnsafeProjection.create(iExprs, childOut)
      val m = new LongKeyMap(aL, aD, aF, 64, trackOccupied = true)
      val nullM = new LongKeyMap(aL, aD, aF, 16, trackOccupied = true)
      val readKey: InternalRow => Long = kT match {
        case org.apache.spark.sql.types.ByteType => r => r.getByte(0).toLong
        case org.apache.spark.sql.types.ShortType => r => r.getShort(0).toLong
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => r => r.getInt(0).toLong
        case _ => r => r.getLong(0)
      }
      def keyValue(key: Long): Any = kT match {
        case org.apache.spark.sql.types.ByteType => key.toByte
        case org.apache.spark.sql.types.ShortType => key.toShort
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => key.toInt
        case _ => key
      }
      val proj = UnsafeProjection.create(exprs, schema)
      val evalRow = new SpecificInternalRow(schema.map(_.dataType))
      val keyPos = pfx.length
      val aggBase = pfx.length + (if (rk.isDefined) 1 else 0)
      var curPrefix: UnsafeRow = null
      var sawNull = false

      def drainRun(into: ArrayBuffer[InternalRow]): Unit = {
        var i = 0
        while (i < pfxTypes.length) {
          evalRow.update(i, curPrefix.get(i, pfxTypes(i))); i += 1
        }
        m.foreachOccupied { s =>
          if (rk.isDefined) evalRow.update(keyPos, keyValue(m.keyAt(s)))
          k.writeOutputs(m.longs, m.doubles, m.flags, s, evalRow, aggBase)
          into += proj(evalRow).copy()
        }
        if (sawNull) {
          nullM.foreachOccupied { s =>
            evalRow.setNullAt(keyPos)
            k.writeOutputs(nullM.longs, nullM.doubles, nullM.flags, s, evalRow, aggBase)
            into += proj(evalRow).copy()
          }
        }
        m.resetOccupied(); nullM.resetOccupied(); sawNull = false
      }
      def consume(row: InternalRow): Unit = {
        val dst = if (keyProj.isDefined) {
          val kr = keyProj.get.apply(row)
          if (kr.isNullAt(0)) { sawNull = true; nullM.slotOf(0L) | Int.MinValue }
          else m.slotOf(readKey(kr))
        } else m.slotOf(0L)
        val inNull = dst < 0
        val s = if (inNull) dst & Int.MaxValue else dst
        val tgt = if (inNull) nullM else m
        k.updateRow(valProj(row), tgt.longs, tgt.doubles, tgt.flags, s)
      }

      new Iterator[InternalRow] {
        private val outBuf = ArrayBuffer.empty[InternalRow]
        private var outPos = 0
        private var exhausted = false
        def hasNext: Boolean = {
          if (outPos < outBuf.length) return true
          if (exhausted) return false
          outBuf.clear(); outPos = 0
          while (rows.hasNext && outBuf.isEmpty) {
            val row = rows.next()
            val p = prefixProj(row)
            if (curPrefix == null) curPrefix = p.copy()
            else if (p != curPrefix) {
              drainRun(outBuf)
              curPrefix = p.copy()
            }
            consume(row)
          }
          if (outBuf.isEmpty && !rows.hasNext) {
            exhausted = true
            if (curPrefix != null) drainRun(outBuf)
          }
          outPos < outBuf.length
        }
        def next(): InternalRow = { val r = outBuf(outPos); outPos += 1; r }
      }
    }
  }

  /** Direct-ordinal row loop (filtered children): prefix/key read off
    * the child row by ordinal with primitive boundary compares; only the
    * aggregate inputs go through a projection. Same run semantics and
    * emission as the batch loop.
    */
  private def runRowDirect(): RDD[InternalRow] = {
    val (pfx, rk, iExprs) = (prefix, runKey, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val (childOut, exprs, schema) = (child.output, resultExprs, evalSchema)
    val kT = runKeyType
    val k = kernel
    val pfxTypes = pfx.map(_.dataType).toArray
    val pOrds = pfx.map(a => childOut.indexWhere(_.exprId == a.exprId)).toArray
    val pLong = pfxTypes.map {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val kOrd = rk.map { case a: Attribute =>
      childOut.indexWhere(_.exprId == a.exprId) }.getOrElse(-1)
    val kLong = kT match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    child.execute().mapPartitions { rows =>
      val valProj = UnsafeProjection.create(iExprs, childOut)
      val m = new LongKeyMap(aL, aD, aF, 64, trackOccupied = true)
      val nullM = new LongKeyMap(aL, aD, aF, 16, trackOccupied = true)
      val proj = UnsafeProjection.create(exprs, schema)
      // typed mutable row: see the batch loop — one write per field per
      // GROUP, primitive setters keep the drain allocation-free
      val evalRow = new SpecificInternalRow(schema.map(_.dataType))
      val keyPos = pfx.length
      val aggBase = pfx.length + (if (rk.isDefined) 1 else 0)
      val nP = pOrds.length
      val curP = new Array[Long](nP)
      val curNull = new Array[Boolean](nP)
      val pInt = pfxTypes.map {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      val kInt = kT match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      val kStr = kT == org.apache.spark.sql.types.StringType
      // string run keys intern to dense per-partition ids (the run map
      // stays long-keyed); `reverse` translates back at drain. Interned
      // strings are CLONED — probe values reference transient row/batch
      // buffers. Ids persist across runs (bounded by the partition's
      // distinct key count); the per-run map resets as before. The topN
      // paths never see strings (topNSpecFor declines the fusion).
      val internMap = if (kStr)
        new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
        else null
      val reverse = if (kStr)
        scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.unsafe.types.UTF8String]
        else null
      def intern(str: org.apache.spark.unsafe.types.UTF8String): Long = {
        val got = internMap.get(str)
        if (got != null) got.longValue()
        else {
          val owned = str.clone()
          val id = reverse.length.toLong
          internMap.put(owned, java.lang.Long.valueOf(id))
          reverse += owned
          id
        }
      }
      var curSet = false
      var sawNull = false

      def differs(row: InternalRow): Boolean = {
        var i = 0
        while (i < nP) {
          val nul = row.isNullAt(pOrds(i))
          if (nul != curNull(i)) return true
          if (!nul) {
            val v = if (pLong(i)) row.getLong(pOrds(i)) else row.getInt(pOrds(i)).toLong
            if (v != curP(i)) return true
          }
          i += 1
        }
        false
      }
      def updateCur(row: InternalRow): Unit = {
        var j = 0
        while (j < nP) {
          curNull(j) = row.isNullAt(pOrds(j))
          curP(j) = if (curNull(j)) 0L
            else if (pLong(j)) row.getLong(pOrds(j)) else row.getInt(pOrds(j)).toLong
          j += 1
        }
      }
      def consume(row: InternalRow): Unit = {
        val (tgt, s) =
          if (kOrd < 0) (m, m.slotOf(0L))
          else if (row.isNullAt(kOrd)) { sawNull = true; (nullM, nullM.slotOf(0L)) }
          else (m, m.slotOf(
            if (kStr) intern(row.getUTF8String(kOrd))
            else if (kLong) row.getLong(kOrd) else row.getInt(kOrd).toLong))
        k.updateRow(valProj(row), tgt.longs, tgt.doubles, tgt.flags, s)
      }

      // Lazy per-group emission (see the batch loop for the contract).
      // The boundary row is PARKED rather than re-indexed — the child
      // iterator can't be rewound — and consumed on re-entry before the
      // next rows.next() call, so the child's row-buffer reuse is safe.
      new Iterator[InternalRow] {
        private var exhausted = false
        private var pending: InternalRow = null
        private var drainIdx = -1
        private var drainNull = false

        private def beginDrain(): Unit = {
          var i = 0
          while (i < nP) {
            if (curNull(i)) evalRow.setNullAt(i)
            else if (pInt(i)) evalRow.setInt(i, curP(i).toInt)
            else evalRow.setLong(i, curP(i))
            i += 1
          }
          drainIdx = 0
          drainNull = m.size == 0
        }
        private def endDrain(): Unit = {
          m.resetOccupied(); nullM.resetOccupied(); sawNull = false
          curSet = false
          drainIdx = -1; drainNull = false
        }

        def hasNext: Boolean = {
          if (drainIdx >= 0) return true
          if (exhausted) return false
          while (pending != null || rows.hasNext) {
            val row = if (pending != null) { val t = pending; pending = null; t }
              else rows.next()
            if (!curSet) { updateCur(row); curSet = true; consume(row) }
            else if (differs(row)) {
              pending = row // re-examined after the drain resets the run
              beginDrain()
              return true
            } else consume(row)
          }
          exhausted = true
          if (curSet && (m.size > 0 || sawNull)) { beginDrain(); return true }
          false
        }

        def next(): InternalRow = {
          if (!drainNull) {
            val s = m.occAt(drainIdx); drainIdx += 1
            if (rk.isDefined) {
              val k = m.keyAt(s)
              if (kStr) evalRow.update(keyPos, reverse(k.toInt))
              else if (kInt) evalRow.setInt(keyPos, k.toInt)
              else evalRow.setLong(keyPos, k)
            }
            k.writeOutputs(m.longs, m.doubles, m.flags, s, evalRow, aggBase)
            if (drainIdx >= m.size) {
              if (sawNull && nullM.size > 0) { drainNull = true; drainIdx = 0 }
              else endDrain()
            }
            proj(evalRow)
          } else {
            val s = nullM.occAt(drainIdx); drainIdx += 1
            evalRow.setNullAt(keyPos)
            k.writeOutputs(nullM.longs, nullM.doubles, nullM.flags, s, evalRow, aggBase)
            if (drainIdx >= nullM.size) endDrain()
            proj(evalRow)
          }
        }
      }
    }
  }

  /** Batch-direct loop: prefix and run key read straight off column
    * vectors (int/long families), boundary compare is a primitive
    * compare per prefix column, agg slots update via the kernel's
    * column update. Same run semantics and emission as the row path.
    */
  private def runBatchDirect(): RDD[InternalRow] = {
    val (pfx, rk, iExprs) = (prefix, runKey, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val (childOut, exprs, schema) = (child.output, resultExprs, evalSchema)
    val kT = runKeyType
    val k = kernel
    val pfxTypes = pfx.map(_.dataType).toArray
    val pOrds = pfx.map(a => childOut.indexWhere(_.exprId == a.exprId)).toArray
    val pLong = pfxTypes.map {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val kOrd = rk.map { case a: Attribute =>
      childOut.indexWhere(_.exprId == a.exprId) }.getOrElse(-1)
    val kLong = kT match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val ords = iExprs.map { case a: Attribute =>
      childOut.indexWhere(_.exprId == a.exprId) }.toArray
    val selPreds = selection.toArray
    child.executeColumnar().mapPartitions { batches =>
      val sel = if (selPreds.isEmpty) null else new DictSelection(selPreds, childOut)
      val vecs = new Array[org.apache.spark.sql.vectorized.ColumnVector](ords.length)
      val m = new LongKeyMap(aL, aD, aF, 64, trackOccupied = true)
      val nullM = new LongKeyMap(aL, aD, aF, 16, trackOccupied = true)
      val proj = UnsafeProjection.create(exprs, schema)
      // typed mutable row + primitive setters: the drain runs once per
      // GROUP — on groups≈rows shapes a boxed update(Any) per field is
      // tens of millions of Long/Double boxes of pure GC churn
      val evalRow = new SpecificInternalRow(schema.map(_.dataType))
      val keyPos = pfx.length
      val aggBase = pfx.length + (if (rk.isDefined) 1 else 0)
      val nP = pOrds.length
      val curP = new Array[Long](nP)
      val curNull = new Array[Boolean](nP)
      val pInt = pfxTypes.map {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      val kInt = kT match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      val kStr = kT == org.apache.spark.sql.types.StringType
      // string run keys intern to dense per-partition ids (the run map
      // stays long-keyed); `reverse` translates back at drain. Interned
      // strings are CLONED — probe values reference transient row/batch
      // buffers. Ids persist across runs (bounded by the partition's
      // distinct key count); the per-run map resets as before. The topN
      // paths never see strings (topNSpecFor declines the fusion).
      val internMap = if (kStr)
        new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
        else null
      val reverse = if (kStr)
        scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.unsafe.types.UTF8String]
        else null
      def intern(str: org.apache.spark.unsafe.types.UTF8String): Long = {
        val got = internMap.get(str)
        if (got != null) got.longValue()
        else {
          val owned = str.clone()
          val id = reverse.length.toLong
          internMap.put(owned, java.lang.Long.valueOf(id))
          reverse += owned
          id
        }
      }
      var curSet = false
      var sawNull = false


      // Lazy per-group emission: no run buffer, no per-group UnsafeRow
      // copy — the iterator returns the projection's REUSED row (the
      // standard operator contract; buffering consumers copy, exactly as
      // they do for HashAggregateExec output). A run boundary switches
      // the iterator into drain mode; the boundary row is re-examined
      // after the drain resets the maps (curSet=false re-opens the run).
      new Iterator[InternalRow] {
        private var exhausted = false
        private var pVecs: Array[org.apache.spark.sql.vectorized.ColumnVector] = null
        private var kVec: org.apache.spark.sql.vectorized.ColumnVector = null
        private var nRows = 0
        private var rIdx = 0
        private var haveBatch = false
        private var drainIdx = -1 // >=0 while emitting the closed run
        private var drainNull = false

        private def loadBatch(): Boolean = {
          if (!batches.hasNext) return false
          val b = batches.next()
          var i = 0
          while (i < ords.length) { vecs(i) = b.column(ords(i)); i += 1 }
          pVecs = pOrds.map(b.column)
          kVec = if (kOrd >= 0) b.column(kOrd) else null
          if (sel != null) sel.reset(b)
          nRows = b.numRows(); rIdx = 0; haveBatch = true
          true
        }

        // pure check: does row r start a NEW run? (cur untouched — the
        // finished run must be DRAINED under its own prefix first)
        private def differs(r: Int): Boolean = {
          var i = 0
          while (i < nP) {
            val nul = pVecs(i).isNullAt(r)
            if (nul != curNull(i)) return true
            if (!nul) {
              val v = if (pLong(i)) pVecs(i).getLong(r) else pVecs(i).getInt(r).toLong
              if (v != curP(i)) return true
            }
            i += 1
          }
          false
        }

        private def updateCur(r: Int): Unit = {
          var j = 0
          while (j < nP) {
            curNull(j) = pVecs(j).isNullAt(r)
            curP(j) = if (curNull(j)) 0L else if (pLong(j)) pVecs(j).getLong(r)
              else pVecs(j).getInt(r).toLong
            j += 1
          }
        }

        private def consume(r: Int): Unit = {
          val (tgt, s) =
            if (kVec == null) (m, m.slotOf(0L))
            else if (kVec.isNullAt(r)) { sawNull = true; (nullM, nullM.slotOf(0L)) }
            else (m, m.slotOf(
              if (kStr) intern(kVec.getUTF8String(r))
              else if (kLong) kVec.getLong(r) else kVec.getInt(r).toLong))
          k.updateCol(vecs, r, tgt.longs, tgt.doubles, tgt.flags, s)
        }

        private def beginDrain(): Unit = {
          var i = 0
          while (i < nP) {
            if (curNull(i)) evalRow.setNullAt(i)
            else if (pInt(i)) evalRow.setInt(i, curP(i).toInt)
            else evalRow.setLong(i, curP(i))
            i += 1
          }
          drainIdx = 0
          drainNull = m.size == 0 // all rows of the run were null-keyed
        }
        private def endDrain(): Unit = {
          m.resetOccupied(); nullM.resetOccupied(); sawNull = false
          curSet = false
          drainIdx = -1; drainNull = false
        }

        def hasNext: Boolean = {
          if (drainIdx >= 0) return true
          if (exhausted) return false
          while (true) {
            if (!haveBatch || rIdx >= nRows) {
              if (!loadBatch()) {
                exhausted = true
                if (curSet && (m.size > 0 || sawNull)) { beginDrain(); return true }
                return false
              }
            }
            while (rIdx < nRows) {
              val r = rIdx
              // selection first: filtered-out rows neither open nor close
              // a run (run boundaries are between PASSING rows only)
              if (sel == null || sel.passes(r)) {
                if (!curSet) { updateCur(r); curSet = true; consume(r); rIdx += 1 }
                else if (differs(r)) { beginDrain(); return true } // r re-read after drain
                else { consume(r); rIdx += 1 }
              } else rIdx += 1
            }
          }
          false // unreachable
        }

        def next(): InternalRow = {
          if (!drainNull) {
            val s = m.occAt(drainIdx); drainIdx += 1
            if (rk.isDefined) {
              val k = m.keyAt(s)
              if (kStr) evalRow.update(keyPos, reverse(k.toInt))
              else if (kInt) evalRow.setInt(keyPos, k.toInt)
              else evalRow.setLong(keyPos, k)
            }
            k.writeOutputs(m.longs, m.doubles, m.flags, s, evalRow, aggBase)
            if (drainIdx >= m.size) {
              if (sawNull && nullM.size > 0) { drainNull = true; drainIdx = 0 }
              else endDrain()
            }
            proj(evalRow)
          } else {
            val s = nullM.occAt(drainIdx); drainIdx += 1
            evalRow.setNullAt(keyPos)
            k.writeOutputs(nullM.longs, nullM.doubles, nullM.flags, s, evalRow, aggBase)
            if (drainIdx >= nullM.size) endDrain()
            proj(evalRow)
          }
        }
      }
    }
  }

  /** Batch-direct loop with the TakeOrderedAndProject fused in: consume
    * everything, drain each closing run's groups against the bounded
    * heap (tuple read straight off the map's primitive state — no
    * accumulator copy, no projection, no row), emit the ≤limit winners
    * at partition end. The parent TakeOrderedAndProject still does the
    * cross-partition merge. Drain machinery shared with the row twin
    * via [[SortedRunAggExec.TopNDrain]].
    */
  private def runBatchTopN(): RDD[InternalRow] = {
    import SortedRunAggExec._
    val (pfx, rk, iExprs) = (prefix, runKey, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val (childOut, exprs, schema) = (child.output, resultExprs, evalSchema)
    val kT = runKeyType
    val k = kernel
    val spec = topN.get
    val pfxTypes = pfx.map(_.dataType).toArray
    val pOrds = pfx.map(a => childOut.indexWhere(_.exprId == a.exprId)).toArray
    val pLong = pfxTypes.map {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val kOrd = rk.map { case a: Attribute =>
      childOut.indexWhere(_.exprId == a.exprId) }.getOrElse(-1)
    val kLong = kT match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val ords = iExprs.map { case a: Attribute =>
      childOut.indexWhere(_.exprId == a.exprId) }.toArray
    val selPreds = selection.toArray
    child.executeColumnar().mapPartitions { batches =>
      val sel = if (selPreds.isEmpty) null else new DictSelection(selPreds, childOut)
      val vecs = new Array[org.apache.spark.sql.vectorized.ColumnVector](ords.length)
      val m = new LongKeyMap(aL, aD, aF, 64, trackOccupied = true)
      val nullM = new LongKeyMap(aL, aD, aF, 16, trackOccupied = true)
      val nP = pOrds.length
      val curP = new Array[Long](nP)
      val curNull = new Array[Boolean](nP)
      val kInt = kT match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      var curSet = false
      val drain = new TopNDrain(spec, k,
        exprs, schema, pfxTypes, rk.isDefined, kInt, m, nullM, curP, curNull)

      val pVecsHolder = new Array[org.apache.spark.sql.vectorized.ColumnVector](nP)
      var kVec: org.apache.spark.sql.vectorized.ColumnVector = null

      def differs(r: Int): Boolean = {
        var i = 0
        while (i < nP) {
          val nul = pVecsHolder(i).isNullAt(r)
          if (nul != curNull(i)) return true
          if (!nul) {
            val v = if (pLong(i)) pVecsHolder(i).getLong(r) else pVecsHolder(i).getInt(r).toLong
            if (v != curP(i)) return true
          }
          i += 1
        }
        false
      }
      def updateCur(r: Int): Unit = {
        var j = 0
        while (j < nP) {
          curNull(j) = pVecsHolder(j).isNullAt(r)
          curP(j) = if (curNull(j)) 0L else if (pLong(j)) pVecsHolder(j).getLong(r)
            else pVecsHolder(j).getInt(r).toLong
          j += 1
        }
      }
      def consume(r: Int): Unit = {
        val (tgt, s) =
          if (kVec == null) (m, m.slotOf(0L))
          else if (kVec.isNullAt(r)) { drain.sawNull = true; (nullM, nullM.slotOf(0L)) }
          else (m, m.slotOf(if (kLong) kVec.getLong(r) else kVec.getInt(r).toLong))
        k.updateCol(vecs, r, tgt.longs, tgt.doubles, tgt.flags, s)
      }

      // consume everything up front; emit the heap afterwards
      while (batches.hasNext) {
        val b = batches.next()
        var i = 0
        while (i < ords.length) { vecs(i) = b.column(ords(i)); i += 1 }
        i = 0
        while (i < nP) { pVecsHolder(i) = b.column(pOrds(i)); i += 1 }
        kVec = if (kOrd >= 0) b.column(kOrd) else null
        if (sel != null) sel.reset(b)
        val nRows = b.numRows()
        var r = 0
        while (r < nRows) {
          if (sel == null || sel.passes(r)) {
            if (!curSet) { updateCur(r); curSet = true }
            else if (differs(r)) { drain.drainRunToHeap(); updateCur(r) }
            consume(r)
          }
          r += 1
        }
      }
      if (curSet && (m.size > 0 || drain.sawNull)) drain.drainRunToHeap()
      val h = drain.h
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < h.size
        def next(): InternalRow = { val r = h.rows(i); i += 1; r }
      }
    }
  }

  /** Row-direct twin of [[runBatchTopN]] (filtered codegen children). */
  private def runRowTopN(): RDD[InternalRow] = {
    import SortedRunAggExec._
    val (pfx, rk, iExprs) = (prefix, runKey, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val (childOut, exprs, schema) = (child.output, resultExprs, evalSchema)
    val kT = runKeyType
    val k = kernel
    val spec = topN.get
    val pfxTypes = pfx.map(_.dataType).toArray
    val pOrds = pfx.map(a => childOut.indexWhere(_.exprId == a.exprId)).toArray
    val pLong = pfxTypes.map {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val kOrd = rk.map { case a: Attribute =>
      childOut.indexWhere(_.exprId == a.exprId) }.getOrElse(-1)
    val kLong = kT match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    child.execute().mapPartitions { rows =>
      val valProj = UnsafeProjection.create(iExprs, childOut)
      val m = new LongKeyMap(aL, aD, aF, 64, trackOccupied = true)
      val nullM = new LongKeyMap(aL, aD, aF, 16, trackOccupied = true)
      val nP = pOrds.length
      val curP = new Array[Long](nP)
      val curNull = new Array[Boolean](nP)
      val kInt = kT match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      var curSet = false
      val drain = new TopNDrain(spec, k,
        exprs, schema, pfxTypes, rk.isDefined, kInt, m, nullM, curP, curNull)

      def differs(row: InternalRow): Boolean = {
        var i = 0
        while (i < nP) {
          val nul = row.isNullAt(pOrds(i))
          if (nul != curNull(i)) return true
          if (!nul) {
            val v = if (pLong(i)) row.getLong(pOrds(i)) else row.getInt(pOrds(i)).toLong
            if (v != curP(i)) return true
          }
          i += 1
        }
        false
      }
      def updateCur(row: InternalRow): Unit = {
        var j = 0
        while (j < nP) {
          curNull(j) = row.isNullAt(pOrds(j))
          curP(j) = if (curNull(j)) 0L
            else if (pLong(j)) row.getLong(pOrds(j)) else row.getInt(pOrds(j)).toLong
          j += 1
        }
      }
      def consume(row: InternalRow): Unit = {
        val (tgt, s) =
          if (kOrd < 0) (m, m.slotOf(0L))
          else if (row.isNullAt(kOrd)) { drain.sawNull = true; (nullM, nullM.slotOf(0L)) }
          else (m, m.slotOf(
            if (kLong) row.getLong(kOrd) else row.getInt(kOrd).toLong))
        k.updateRow(valProj(row), tgt.longs, tgt.doubles, tgt.flags, s)
      }

      while (rows.hasNext) {
        val row = rows.next()
        if (!curSet) { updateCur(row); curSet = true }
        else if (differs(row)) { drain.drainRunToHeap(); updateCur(row) }
        consume(row)
      }
      if (curSet && (m.size > 0 || drain.sawNull)) drain.drainRunToHeap()
      val h = drain.h
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < h.size
        def next(): InternalRow = { val r = h.rows(i); i += 1; r }
      }
    }
  }
}
