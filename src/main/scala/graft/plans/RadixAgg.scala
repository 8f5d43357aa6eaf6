package graft.plans

import graft.functions.DistinctWithHll

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector

import org.apache.spark.unsafe.Platform

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Radix-bucketed shuffle aggregation for a single int/long grouping key —
  * the engine's answer to the regime where map-side partial aggregation
  * stops reducing (h2oai `GROUP BY id`, groups within a constant factor
  * of rows): Spark's partial→exchange→final hashes every row into an
  * UnsafeRow map TWICE and shuffles one row per (partition, group).
  *
  * Shape (reference: radix-partitioned aggregation,
  * /root/reference/src/execution/operator/aggregate/
  * radix_partitioned_hashtable.cpp): the partial stage aggregates each
  * input partition into an open-addressing long-keyed map with FLAT
  * primitive state arrays (no UnsafeRow, no per-row allocation), then
  * emits the map split by key-hash into `buckets` packed blobs — one row
  * per non-empty bucket carrying all keys (8 B each) and fixed-width
  * state blocks, not one row per group. The exchange moves
  * O(buckets × partitions) rows; reducers own DISJOINT key slices and
  * merge blobs into a dense map, then evaluate the final-aggregate
  * result expressions per group.
  *
  * Scale posture: partial memory is bounded by `flushGroups` groups
  * (`spark.graft.agg.flushGroups`, frozen into the partial at planning;
  * ~(8·nL + 8·nD + nF + 9) B per group plus open-addressing slack) —
  * when a partition exceeds it the map is flushed as blobs and reset
  * (multiple blobs per bucket merge associatively downstream), the same
  * emit-partial-state valve a native engine's radix table uses. Reducer
  * state is total-groups/buckets; `buckets` derives from the replaced
  * exchange's partition count (×4, so bucket→reducer hashing keeps every
  * reducer busy), and `spark.sql.shuffle.partitions` remains the scaling
  * knob. NULL group keys ride a side accumulator routed through bucket 0.
  *
  * Only plan shapes whose aggregates compile to flat-state
  * [[DriverAgg.layout]] slots (count/sum/avg/min/max and the
  * variance/stddev/covariance moments over primitives; no DISTINCT, no
  * FILTER) are rewritten — see [[graft.rules.RadixShuffleAgg]]; everything
  * else keeps Spark's plan. Slot semantics, including the state blocks'
  * encoding, are [[SlotKernel]]'s.
  */
object RadixAgg extends org.apache.spark.internal.Logging {

  /** Per-partition loop/emit split of the columnar partial, at DEBUG. */
  private[plans] def debug(msg: => String): Unit = logDebug(msg)

  /** Key domains that widen losslessly to long (and back). */
  def supportedKey(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | DateType | LongType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private[plans] def bucketOf(k: Long, buckets: Int): Int =
    math.floorMod(DistinctWithHll.scramble(k), buckets).toInt

  /** Open-addressing long→slot map with flat per-slot state arrays.
    * Zero-initialized state is exactly the fresh-accumulator state
    * (longs 0, doubles 0, flags false), so insertion needs no init pass.
    */
  final class LongKeyMap(nL: Int, nD: Int, nF: Int, initCap: Int = 1 << 12,
      trackOccupied: Boolean = false) {
    private var cap = Integer.highestOneBit(math.max(initCap, 16))
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    var size = 0
    var longs = new Array[Long](cap * nL)
    var doubles = new Array[Double](cap * nD)
    var flags = new Array[Boolean](cap * nF)
    // insertion-recorded slot list (trackOccupied): makes reset and
    // iteration O(size) instead of O(cap) — essential for the per-RUN
    // maps of the sorted-run aggregate, where millions of tiny runs
    // would each pay a full-capacity clear
    private var occ: Array[Int] = if (trackOccupied) new Array[Int](cap) else null

    def slotOf(k: Long): Int = {
      var i = (DistinctWithHll.scramble(k) & mask).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      if (!used(i)) {
        if (size >= cap - (cap >> 2)) { grow(); return slotOf(k) }
        used(i) = true; keys(i) = k
        if (occ != null) occ(size) = i
        size += 1
      }
      i
    }

    private def grow(): Unit = {
      val oc = cap; val ok = keys; val ou = used
      val oL = longs; val oD = doubles; val oF = flags
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); used = new Array[Boolean](cap)
      longs = new Array[Long](cap * nL)
      doubles = new Array[Double](cap * nD)
      flags = new Array[Boolean](cap * nF)
      if (occ != null) occ = new Array[Int](cap)
      var n = 0
      var i = 0
      while (i < oc) {
        if (ou(i)) {
          val k = ok(i)
          var j = (DistinctWithHll.scramble(k) & mask).toInt
          while (used(j)) j = (j + 1) & mask
          used(j) = true; keys(j) = k
          if (occ != null) { occ(n) = j; n += 1 }
          System.arraycopy(oL, i * nL, longs, j * nL, nL)
          System.arraycopy(oD, i * nD, doubles, j * nD, nD)
          System.arraycopy(oF, i * nF, flags, j * nF, nF)
        }
        i += 1
      }
    }

    /** O(size) clear via the occupied list (trackOccupied only). */
    def resetOccupied(): Unit = {
      var i = 0
      while (i < size) {
        val s = occ(i)
        used(s) = false
        java.util.Arrays.fill(longs, s * nL, s * nL + nL, 0L)
        java.util.Arrays.fill(doubles, s * nD, s * nD + nD, 0.0)
        java.util.Arrays.fill(flags, s * nF, s * nF + nF, false)
        i += 1
      }
      size = 0
    }

    /** O(size) slot iteration via the occupied list (trackOccupied only). */
    def foreachOccupied(f: Int => Unit): Unit = {
      var i = 0
      while (i < size) { f(occ(i)); i += 1 }
    }

    /** i-th occupied slot, insertion order (trackOccupied only) — lets
      * the sorted-run drain emit groups lazily without a closure.
      */
    def occAt(i: Int): Int = occ(i)

    def foreachEntry(f: (Long, Int) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i), i); i += 1 }
    }

    def keyAt(slot: Int): Long = keys(slot)

    /** Copy `srcSlot`'s state from `src` into this map under key `k`
      * (fresh key — the slot is zero-initialized before the copy lands).
      */
    def copySlotFrom(src: LongKeyMap, srcSlot: Int, k: Long): Unit = {
      val s = slotOf(k)
      System.arraycopy(src.longs, srcSlot * nL, longs, s * nL, nL)
      System.arraycopy(src.doubles, srcSlot * nD, doubles, s * nD, nD)
      System.arraycopy(src.flags, srcSlot * nF, flags, s * nF, nF)
    }

    /** Occupied slot indices, lazily — lets emission stream groups
      * without materializing the whole output alongside the map.
      */
    def slotIterator: Iterator[Int] = new Iterator[Int] {
      private var i = 0
      private def advance(): Unit = { while (i < cap && !used(i)) i += 1 }
      advance()
      def hasNext: Boolean = i < cap
      def next(): Int = { val r = i; i += 1; advance(); r }
    }

    def reset(): Unit = {
      java.util.Arrays.fill(used, false)
      java.util.Arrays.fill(longs, 0L)
      java.util.Arrays.fill(doubles, 0.0)
      java.util.Arrays.fill(flags, false)
      size = 0
    }
  }
}

/** Emit-time key prune for [[RadixPartialAggExec]]: keep only the
  * `limit` smallest (or largest, `desc`) keys per emitted map — the
  * radix-path half of the top-N-through-aggregate pushdown
  * ([[graft.rules.TopNThroughAgg]]). Sound because the long key order
  * IS the group order for every [[RadixAgg.supportedKey]] type (lossless
  * signed widening), keys are per-map unique (no ties), and the null
  * group is never pruned (superset-safe: all its fragments survive in
  * every partition, so its merged aggregate stays complete).
  */
final case class RadixTopN(limit: Int, desc: Boolean)

object RadixPartialAggExec {
  /** Bounded selection heap over primitive longs: retains the `cap`
    * smallest (`max = true` → max-heap root is the retention threshold)
    * or largest values offered. Keys are unique, so after `cap` offers
    * the keep predicate `k <= threshold` (asc) / `k >= threshold` (desc)
    * selects exactly the retained set.
    */
  private[plans] final class BoundedLongHeap(cap: Int, max: Boolean) {
    private val arr = new Array[Long](cap)
    private var n = 0
    private def worse(a: Long, b: Long): Boolean = if (max) a > b else a < b
    def full: Boolean = n == cap
    def threshold: Long = arr(0)
    def offer(k: Long): Unit = {
      if (n < cap) {
        var i = n; arr(i) = k; n += 1
        while (i > 0 && worse(arr(i), arr((i - 1) >> 1))) {
          val p = (i - 1) >> 1; val t = arr(i); arr(i) = arr(p); arr(p) = t; i = p
        }
      } else if (worse(arr(0), k)) {
        arr(0) = k
        var i = 0
        var go = true
        while (go) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < n && worse(arr(l), arr(m))) m = l
          if (r < n && worse(arr(r), arr(m))) m = r
          if (m == i) go = false
          else { val t = arr(i); arr(i) = arr(m); arr(m) = t; i = m }
        }
      }
    }
  }

  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("bucket", IntegerType, nullable = false)(),
    AttributeReference("keys", BinaryType, nullable = false)(),
    AttributeReference("state", BinaryType, nullable = false)(),
    AttributeReference("has_null", BooleanType, nullable = false)())
}

/** Map stage: per-partition flat-state aggregation + bucketed packed emit
  * (see [[RadixAgg]]). `columnarChild` is set by the cache-read rewire in
  * `rules/VectorizedCacheRead` when key and inputs are direct columns of
  * a columnar-capable scan.
  */
final case class RadixPartialAggExec(
    keyExpr: Expression,
    keyType: DataType,
    aggInputs: Seq[Expression],
    slots: Seq[DriverAgg.Slot],
    nL: Int, nD: Int, nF: Int,
    buckets: Int,
    output: Seq[Attribute],
    child: SparkPlan,
    columnarChild: Boolean,
    ansi: Boolean,
    // partial-map group cap before a flush-and-reset
    flushGroups: Int,
    // emit-time per-partition key prune (top-N-through-aggregate pushdown)
    topN: Option[RadixTopN] = None) extends UnaryExecNode {
  import RadixAgg._

  // packed bucket rows emitted (the profile surface reads these —
  // QueryProfile relationalizes every operator's SQLMetrics)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): RadixPartialAggExec =
    copy(child = c)

  /** All reads are direct columns of `scan` — the batch loop can run.
    * Byte/Short keys stay on the row path (the batch key read is
    * getInt/getLong only).
    */
  def columnarEligible(scan: SparkPlan): Boolean = {
    def direct(e: Expression): Boolean = e match {
      case a: Attribute => scan.output.exists(_.exprId == a.exprId)
      case _ => false
    }
    val keyReadable = keyType match {
      case IntegerType | DateType | LongType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    keyReadable && direct(keyExpr) && aggInputs.forall(direct)
  }

  /** Emit the map (and, when `nullM` is non-null and non-empty, the
    * null-group block appended to bucket 0) as packed bucket rows.
    */
  private def emitRows(k: SlotKernel, m: LongKeyMap,
      nullM: LongKeyMap): Iterator[InternalRow] = {
    val hasNull = nullM != null && nullM.size > 0
    // top-N-through-aggregate: keys outside this partition's top-`limit`
    // cannot reach the global top-`limit` (keys are unique; the group
    // order is the key order), so don't ship their fragments at all.
    // The null group's state travels separately and is never pruned.
    val keep: Long => Boolean = topN match {
      case Some(tn) if m.size > tn.limit =>
        val heap = new RadixPartialAggExec.BoundedLongHeap(tn.limit, max = !tn.desc)
        m.foreachEntry((k, _) => heap.offer(k))
        val thr = heap.threshold
        if (tn.desc) k => k >= thr else k => k <= thr
      case _ => _ => true
    }
    val counts = new Array[Int](buckets)
    m.foreachEntry((k, _) => if (keep(k)) counts(bucketOf(k, buckets)) += 1)
    val keyBufs = new Array[ByteBuffer](buckets)
    val stateArrs = new Array[Array[Byte]](buckets)
    val statePos = new Array[Int](buckets)
    var b = 0
    while (b < buckets) {
      if (counts(b) > 0 || (b == 0 && hasNull)) {
        keyBufs(b) = ByteBuffer.allocate(8 * counts(b)).order(ByteOrder.LITTLE_ENDIAN)
        stateArrs(b) = new Array[Byte](
          k.blockBytes * (counts(b) + (if (b == 0 && hasNull) 1 else 0)))
      }
      b += 1
    }
    def put(bk: Int, src: LongKeyMap, s: Int): Unit = {
      k.writeBlock(src.longs, src.doubles, src.flags, s, stateArrs(bk),
        Platform.BYTE_ARRAY_OFFSET + statePos(bk))
      statePos(bk) += k.blockBytes
    }
    m.foreachEntry { (key, s) =>
      if (keep(key)) {
        val bk = bucketOf(key, buckets)
        keyBufs(bk).putLong(key)
        put(bk, m, s)
      }
    }
    if (hasNull) {
      var done = false
      nullM.foreachEntry((_, s) => if (!done) { put(0, nullM, s); done = true })
    }
    val proj = UnsafeProjection.create(Array[DataType](
      IntegerType, BinaryType, BinaryType, BooleanType))
    val row = new GenericInternalRow(4)
    (0 until buckets).iterator.filter(b => keyBufs(b) != null).map { b =>
      row.update(0, b)
      row.update(1, keyBufs(b).array())
      row.update(2, stateArrs(b))
      row.update(3, b == 0 && hasNull)
      proj(row).copy()
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val (kT, iExprs) = (keyType, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val childOut = child.output
    val k = new SlotKernel(slots, iExprs.map(_.dataType), Nil, nL, nD, nF, ansi)
    val flushAt = flushGroups
    // top-N early reject: once the map has been pruned to its top
    // `limit` keys, `thr` is the worst retained key and any worse row is
    // dropped with one compare — its group already has `limit` distinct
    // keys ahead of it IN THIS PARTITION, so it can't reach the global
    // top-`limit` (the emit-time prune's argument, applied per row).
    // thr starts at the always-pass extreme; pruning keeps the map
    // bounded at ~2×limit so flushGroups never triggers alongside.
    val tnDesc = topN.exists(_.desc)
    val tnLimit = topN.map(_.limit).getOrElse(0)
    val pruneTrigger = topN.map(t => math.max(2 * t.limit, 1024))
      .getOrElse(Int.MaxValue)
    def pruneLive(old: LongKeyMap, setThr: Long => Unit): LongKeyMap = {
      val heap = new RadixPartialAggExec.BoundedLongHeap(tnLimit, max = !tnDesc)
      old.foreachEntry((k, _) => heap.offer(k))
      val t = heap.threshold
      setThr(t)
      val fresh = new LongKeyMap(aL, aD, aF, 2 * tnLimit)
      old.foreachEntry { (k, s) =>
        if (if (tnDesc) k >= t else k <= t) fresh.copySlotFrom(old, s, k)
      }
      fresh
    }
    if (columnarChild) {
      val kOrd = keyExpr match {
        case a: Attribute => childOut.indexWhere(_.exprId == a.exprId)
      }
      val ords = iExprs.map { case a: Attribute =>
        childOut.indexWhere(_.exprId == a.exprId) }.toArray
      child.executeColumnar().mapPartitions { batches =>
        var m = new LongKeyMap(aL, aD, aF)
        val nullM = new LongKeyMap(aL, aD, aF, 16)
        var thr = if (tnDesc) Long.MinValue else Long.MaxValue
        val vecs = new Array[ColumnVector](ords.length)
        val kIsLong = isKeyLongRead(kT)
        val flushed = ArrayBuffer.empty[InternalRow]
        val t0 = System.nanoTime()
        var nRows = 0L
        batches.foreach { batch =>
          val kv = batch.column(kOrd)
          nRows += batch.numRows()
          var i = 0
          while (i < ords.length) { vecs(i) = batch.column(ords(i)); i += 1 }
          val n = batch.numRows()
          var r = 0
          while (r < n) {
            if (kv.isNullAt(r)) {
              val s = nullM.slotOf(0L)
              k.updateCol(vecs, r, nullM.longs, nullM.doubles, nullM.flags, s)
            } else {
              val key = if (kIsLong) kv.getLong(r) else kv.getInt(r).toLong
              if (if (tnDesc) key >= thr else key <= thr) {
                val s = m.slotOf(key)
                k.updateCol(vecs, r, m.longs, m.doubles, m.flags, s)
                if (m.size >= pruneTrigger) m = pruneLive(m, t => thr = t)
              }
            }
            r += 1
          }
          if (m.size >= flushAt) { flushed ++= emitRows(k, m, null); m.reset() }
        }
        val t1 = System.nanoTime()
        val r = emitRows(k, m, nullM)
        RadixAgg.debug(s"partition ${org.apache.spark.TaskContext.getPartitionId()} " +
          s"rows=$nRows groups=${m.size} loop=${(t1 - t0) / 1000000}ms " +
          s"emit=${(System.nanoTime() - t1) / 1000000}ms")
        (flushed.iterator ++ r).map { row => numOut.add(1); row }
      }
    } else {
      child.execute().mapPartitions { rows =>
        val keyProj = UnsafeProjection.create(Seq(keyExpr), childOut)
        val valProj = UnsafeProjection.create(iExprs, childOut)
        var m = new LongKeyMap(aL, aD, aF)
        val nullM = new LongKeyMap(aL, aD, aF, 16)
        var thr = if (tnDesc) Long.MinValue else Long.MaxValue
        val readKey = keyRowReader(kT)
        val flushed = ArrayBuffer.empty[InternalRow]
        while (rows.hasNext) {
          val row = rows.next()
          val kr = keyProj(row)
          val v = valProj(row)
          if (kr.isNullAt(0)) {
            val s = nullM.slotOf(0L)
            k.updateRow(v, nullM.longs, nullM.doubles, nullM.flags, s)
          } else {
            val key = readKey(kr)
            if (if (tnDesc) key >= thr else key <= thr) {
              val s = m.slotOf(key)
              k.updateRow(v, m.longs, m.doubles, m.flags, s)
              if (m.size >= pruneTrigger) m = pruneLive(m, t => thr = t)
            }
          }
          if (m.size >= flushAt) { flushed ++= emitRows(k, m, null); m.reset() }
        }
        (flushed.iterator ++ emitRows(k, m, nullM)).map { row => numOut.add(1); row }
      }
    }
  }

  private def isKeyLongRead(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false // int-width vector reads (byte/short surface as getInt on caches; see reader)
  }

  private def keyRowReader(dt: DataType): InternalRow => Long = dt match {
    case ByteType => r => r.getByte(0).toLong
    case ShortType => r => r.getShort(0).toLong
    case IntegerType | DateType => r => r.getInt(0).toLong
    case _ => r => r.getLong(0)
  }
}

/** Reduce stage: merge packed bucket blobs into a dense map and evaluate
  * the replaced final aggregate's result expressions per group.
  */
final case class RadixFinalAggExec(
    slots: Seq[DriverAgg.Slot],
    aggTypes: Seq[DataType],
    nL: Int, nD: Int, nF: Int,
    groupAttr: Attribute,
    aggAttrs: Seq[Attribute],
    resultExprs: Seq[NamedExpression],
    output: Seq[Attribute],
    child: SparkPlan,
    // true when this replaces a PartialMerge-mode aggregate: emit BUFFER
    // rows (AvgSlot widens to its [sum, count] pair; aggTypes then carry
    // each slot's first buffer-attribute type) instead of final values,
    // so the adjacent downstream aggregate keeps consuming the exact
    // schema the replaced node produced
    bufferMode: Boolean = false,
    ansi: Boolean = false) extends UnaryExecNode {
  import RadixAgg._

  // final group count — the deterministic number EXPLAIN ANALYZE users
  // read; surfaced by plans/QueryProfile
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  // resultExprs/groupAttr/aggAttrs bind POSITIONALLY over the merged
  // (key ++ agg values) eval row, not against the child's packed-blob
  // output — without this override the node prints as invalid (`!`) and
  // attribute-accounting rules may misfire
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(c: SparkPlan): RadixFinalAggExec =
    copy(child = c)

  // the exchange this demands is the whole point: reducers own disjoint
  // bucket (= key-hash) slices
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output.head)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val k = new SlotKernel(slots, Nil, aggTypes, nL, nD, nF, ansi)
    val (aL, aD, aF) = (nL, nD, nF)
    val keyTc = SlotKernel.typeCode(groupAttr.dataType)
    val evalSchema = groupAttr +: aggAttrs
    val exprs = resultExprs
    val buffered = bufferMode
    child.execute().mapPartitions { rows =>
      val m = new LongKeyMap(aL, aD, aF)
      val nullM = new LongKeyMap(aL, aD, aF, 16)
      var sawNull = false
      rows.foreach { r =>
        val keys = r.getBinary(1)
        val state = r.getBinary(2)
        val kb = ByteBuffer.wrap(keys).order(ByteOrder.LITTLE_ENDIAN)
        val n = keys.length / 8
        var g = 0
        while (g < n) {
          val s = m.slotOf(kb.getLong(8 * g))
          k.mergeBlob(m.longs, m.doubles, m.flags, s, state,
            Platform.BYTE_ARRAY_OFFSET + g.toLong * k.blockBytes)
          g += 1
        }
        if (r.getBoolean(3)) {
          sawNull = true
          val s = nullM.slotOf(0L)
          k.mergeBlob(nullM.longs, nullM.doubles, nullM.flags, s, state,
            Platform.BYTE_ARRAY_OFFSET + n.toLong * k.blockBytes)
        }
      }
      val proj = UnsafeProjection.create(exprs, evalSchema)
      // typed drain: SpecificInternalRow + primitive setters, no box per
      // key/aggregate per group
      val evalRow = new SpecificInternalRow(evalSchema.map(_.dataType))
      def emit(src: LongKeyMap, s: Int, keyNull: Boolean): InternalRow = {
        if (keyNull) evalRow.setNullAt(0)
        else {
          val key = src.keyAt(s)
          (keyTc: @annotation.switch) match {
            case 0 => evalRow.setByte(0, key.toByte)
            case 1 => evalRow.setShort(0, key.toShort)
            case 2 => evalRow.setInt(0, key.toInt)
            case _ => evalRow.setLong(0, key)
          }
        }
        k.writeOutputs(src.longs, src.doubles, src.flags, s, evalRow, 1, buffered)
        proj(evalRow)
      }
      // STREAM emission — project each group lazily (the projection's
      // output row is reused, as Spark's own aggregate iterators do)
      // instead of buffering every UnsafeRow next to the dense map, which
      // would double reducer memory in the groups≈rows regime this
      // operator exists for
      val mainRows = m.slotIterator.map(s => emit(m, s, keyNull = false))
      val nullRows =
        if (!sawNull) Iterator.empty
        else nullM.slotIterator.map(s => emit(nullM, s, keyNull = true))
      (mainRows ++ nullRows).map { r => numOut.add(1); r }
    }
  }
}
