package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized single-string-key broadcast INNER hash join — the probe
  * side of the reference's dictionary-aware join hash table
  * (/root/reference/src/execution/join_hashtable.cpp keys on
  * vector-level dictionaries) re-expressed over the graft columnar
  * cache.
  *
  * Why stock BHJ loses on this shape: its generated probe materializes
  * a UTF8String per row, copies it into an UnsafeRow key, Murmur3-hashes
  * it and walks an UnsafeHashedRelation — ~130 ns/row of per-row string
  * work on h2o_j04's 1e7-row probe of a 1e4-key build. This exec probes
  * straight off the cache's column stores:
  *
  *  - [[GraftCacheSerializer.DictStore]] batches resolve each DISTINCT
  *    dictionary entry once (≤ entries hash probes per batch), then
  *    rows join by an int-array read — the dictionary-vector join;
  *  - [[GraftCacheSerializer.BlobStore]] batches hash the key bytes IN
  *    PLACE off the contiguous blob (no UTF8String allocation at all);
  *  - any other vector (parquet OnHeap, etc.) hashes the zero-copy
  *    UTF8String view without forming an UnsafeRow key.
  *
  * The build table is a flat open-addressing array over the broadcast
  * rows' key bytes (cached hashes, chained duplicates), built once per
  * executor and memoized on the broadcast id. Inner join only; NULL
  * keys match nothing on either side (standard equi-join semantics —
  * the rule additionally folds away a redundant IsNotNull(probeKey)
  * filter under the join). Scale posture: identical to stock BHJ — the
  * build side is a broadcast the planner already proved small; the
  * probe is embarrassingly parallel per batch.
  *
  * Escape hatch: `spark.graft.disabled=StringBcastJoinRule`.
  */
final case class StringBcastJoinExec(
    streamedKeyOrd: Int,
    buildKeyOrd: Int,
    left: SparkPlan, // streamed
    right: SparkPlan, // broadcast exchange (IdentityBroadcastMode)
    // batch-direct probe (InsertCacheColumnarToRow peels the transition
    // when the streamed side is columnar-capable — DriverAgg pattern)
    columnarChild: Boolean = false)
  extends BinaryExecNode {

  /** Inner equi-join output never carries a NULL streamed key: the probe
    * skips NULL keys itself. The rule folded away the IsNotNull(key)
    * FilterExec that used to tighten this attribute's nullability, so we
    * restore it here — downstream operators were planned against the
    * non-nullable attribute the original join output exposed.
    */
  override def output: Seq[Attribute] =
    left.output.zipWithIndex.map { case (a, i) =>
      if (i == streamedKeyOrd) a.withNullability(false) else a
    } ++ right.output
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): StringBcastJoinExec = copy(left = l, right = r)

  override protected def doExecute(): RDD[InternalRow] = {
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    val bKeyOrd = buildKeyOrd
    val sKeyOrd = streamedKeyOrd
    val outAttrs = output
    val leftAttrs = left.output
    val rightAttrs = right.output
    if (columnarChild) {
      left.executeColumnar().mapPartitions { batches =>
        val table = StringBcastJoin.tableFor(bcast, bKeyOrd)
        val resultProj = UnsafeProjection.create(outAttrs, leftAttrs ++ rightAttrs)
        val joined = new JoinedRow()
        batches.flatMap { batch =>
          new StringBcastJoin.ProbeIterator(batch, sKeyOrd, table, joined, resultProj)
        }
      }
    } else {
      left.execute().mapPartitions { rows =>
        val table = StringBcastJoin.tableFor(bcast, bKeyOrd)
        val resultProj = UnsafeProjection.create(outAttrs, leftAttrs ++ rightAttrs)
        val joined = new JoinedRow()
        new StringBcastJoin.RowProbeIterator(rows, sKeyOrd, table, joined, resultProj)
      }
    }
  }
}

object StringBcastJoin {

  /** Flat build table: key bytes in one blob (+offsets), payload row
    * per entry, open-addressing slot array with cached hashes, `next`
    * chains for duplicate keys.
    */
  final class Table(
      val blob: Array[Byte], val offsets: Array[Int],
      val rows: Array[InternalRow], val next: Array[Int],
      val slots: Array[Int], val hashes: Array[Int], val mask: Int) {

    def lookupBytes(bytes: Array[Byte], off: Int, len: Int, h: Int): Int = {
      var p = h & mask
      var e = slots(p)
      while (e != -1) {
        if (hashes(e) == h && offsets(e + 1) - offsets(e) == len &&
            java.util.Arrays.equals(blob, offsets(e), offsets(e) + len,
              bytes, off, off + len)) return e
        p = (p + 1) & mask
        e = slots(p)
      }
      -1
    }

    /** Zero-copy UTF8String lookup: hashes via Platform reads off the
      * string's base object, compares with arrayEquals — no byte-array
      * materialization per probe row.
      */
    def lookupUtf8(s: UTF8String): Int = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val len = s.numBytes
      var h = 0x811c9dc5
      var i = 0L
      while (i < len) {
        h = (h ^ org.apache.spark.unsafe.Platform.getByte(base, off + i)) * 0x01000193
        i += 1
      }
      h &= 0x7fffffff
      var p = h & mask
      var e = slots(p)
      while (e != -1) {
        if (hashes(e) == h && offsets(e + 1) - offsets(e) == len &&
            org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
              blob, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offsets(e),
              base, off, len)) return e
        p = (p + 1) & mask
        e = slots(p)
      }
      -1
    }
  }

  def hashBytes(b: Array[Byte], off: Int, len: Int): Int = {
    // FNV-1a: cheap, good spread for short id-style keys; identical on
    // build and probe sides by construction
    var h = 0x811c9dc5
    var i = off
    val end = off + len
    while (i < end) { h = (h ^ b(i)) * 0x01000193; i += 1 }
    h & 0x7fffffff
  }

  // One table per (broadcast, key ordinal) per executor JVM. The key
  // MUST include keyOrd: IdentityBroadcastMode canonicalizes without
  // the join key, so ReuseExchange/AQE can legally share one broadcast
  // between two joins over the same build child keyed on DIFFERENT
  // string columns — a bcast.id-only cache would hand the second join a
  // table hashed on the wrong ordinal. Bounded: oldest-inserted entries
  // evict one at a time past 32 (never clear-all — tables are immutable
  // and may be in use by concurrently running queries).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), Table]()
  private val insertOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  def tableFor(bcast: Broadcast[Array[InternalRow]], keyOrd: Int): Table = {
    val k = (bcast.id, keyOrd)
    val cached = cache.get(k)
    if (cached != null) return cached
    // mapping fn touches only the side queue (CHM forbids map mutation)
    val t = cache.computeIfAbsent(k, k2 => {
      insertOrder.add(k2)
      build(bcast.value, keyOrd)
    })
    var evictAttempts = 64 // bounded: racing evictors may drain the queue
    while (cache.size() > 32 && evictAttempts > 0) {
      evictAttempts -= 1
      val old = insertOrder.poll()
      if (old == null) evictAttempts = 0
      else if (old != k) cache.remove(old)
      else insertOrder.add(old)
    }
    t
  }

  def build(rows: Array[InternalRow], keyOrd: Int): Table = {
    val n = rows.length
    val keep = new scala.collection.mutable.ArrayBuffer[InternalRow](n)
    var blob = new Array[Byte](math.max(64, n * 8))
    val offsets = new Array[Int](n + 1)
    var used = 0
    var i = 0
    while (i < n) {
      val r = rows(i)
      if (!r.isNullAt(keyOrd)) {
        val s = r.getUTF8String(keyOrd)
        val len = s.numBytes
        if (used + len > blob.length)
          blob = java.util.Arrays.copyOf(blob, math.max(blob.length * 2, used + len))
        s.writeToMemory(blob, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + used)
        used += len
        keep += (r match { case u: UnsafeRow => u.copy(); case o => o.copy() })
        offsets(keep.length) = used
      }
      i += 1
    }
    val m = keep.length
    var cap = 16
    while (cap < m * 2) cap <<= 1
    val slots = new Array[Int](cap)
    java.util.Arrays.fill(slots, -1)
    val hashes = new Array[Int](m)
    val next = new Array[Int](m)
    java.util.Arrays.fill(next, -1)
    val mask = cap - 1
    var e = 0
    while (e < m) {
      val h = hashBytes(blob, offsets(e), offsets(e + 1) - offsets(e))
      hashes(e) = h
      var p = h & mask
      var cur = slots(p)
      var dup = -1
      while (cur != -1 && dup == -1) {
        if (hashes(cur) == h &&
            offsets(cur + 1) - offsets(cur) == offsets(e + 1) - offsets(e) &&
            java.util.Arrays.equals(blob, offsets(cur), offsets(cur + 1),
              blob, offsets(e), offsets(e + 1))) dup = cur
        else { p = (p + 1) & mask; cur = slots(p) }
      }
      if (dup == -1) slots(p) = e
      else {
        // chain the duplicate at the END so emission preserves build order
        var t = dup
        while (next(t) != -1) t = next(t)
        next(t) = e
      }
      e += 1
    }
    new Table(java.util.Arrays.copyOf(blob, used), java.util.Arrays.copyOf(offsets, m + 1),
      keep.toArray, next, slots, hashes, mask)
  }

  /** Per-batch probe: dictionary batches resolve entries once; blob
    * batches hash in place; anything else hashes the UTF8String view.
    */
  final class ProbeIterator(
      batch: ColumnarBatch, keyOrd: Int, table: Table,
      joined: JoinedRow, resultProj: UnsafeProjection) extends Iterator[InternalRow] {

    private[this] val n = batch.numRows()
    private[this] val vec = batch.column(keyOrd)
    // dict arm: entry -> build match (resolved once per batch)
    private[this] var dictIds: Array[Int] = null
    private[this] var dictMatch: Array[Int] = null
    // blob arm
    private[this] var blob: Array[Byte] = null
    private[this] var bOffsets: Array[Int] = null
    private[this] var nulls: Array[Boolean] = null
    vec match {
      case g: GraftColumnVector => g.store match {
        case d: GraftCacheSerializer.DictStore =>
          dictIds = d.ids
          nulls = d.nulls
          dictMatch = new Array[Int](d.entries)
          var e2 = 0
          while (e2 < d.entries) {
            val s = d.dictOffsets(e2)
            val len = d.dictOffsets(e2 + 1) - s
            dictMatch(e2) =
              table.lookupBytes(d.dict, s, len, hashBytes(d.dict, s, len))
            e2 += 1
          }
        case b: GraftCacheSerializer.BlobStore =>
          blob = b.blob; bOffsets = b.offsets; nulls = b.nulls
        case _ =>
      }
      case _ =>
    }

    private[this] var r = 0
    private[this] var matchEntry = -1 // current chain position, -1 = advance

    private def matchOf(row: Int): Int = {
      if (nulls != null && nulls(row)) return -1
      if (dictMatch != null) dictMatch(dictIds(row))
      else if (blob != null) {
        val s = bOffsets(row)
        val len = bOffsets(row + 1) - s
        table.lookupBytes(blob, s, len, hashBytes(blob, s, len))
      } else {
        if (vec.isNullAt(row)) return -1
        table.lookupUtf8(vec.getUTF8String(row))
      }
    }

    override def hasNext: Boolean = {
      while (matchEntry == -1 && r < n) {
        matchEntry = matchOf(r)
        if (matchEntry == -1) r += 1
      }
      matchEntry != -1
    }

    override def next(): InternalRow = {
      val e = matchEntry
      val out = resultProj(joined(batch.getRow(r), table.rows(e)))
      matchEntry = table.next(e)
      if (matchEntry == -1) r += 1
      out
    }
  }

  /** Row-contract probe (streamed side not columnar): still skips the
    * UnsafeRow key copy + HashedRelation layers — the key hashes in
    * place off the row's UTF8String view.
    */
  final class RowProbeIterator(
      rows: Iterator[InternalRow], keyOrd: Int, table: Table,
      joined: JoinedRow, resultProj: UnsafeProjection) extends Iterator[InternalRow] {

    private[this] var cur: InternalRow = _
    private[this] var matchEntry = -1

    override def hasNext: Boolean = {
      while (matchEntry == -1 && rows.hasNext) {
        cur = rows.next()
        if (!cur.isNullAt(keyOrd))
          matchEntry = table.lookupUtf8(cur.getUTF8String(keyOrd))
      }
      matchEntry != -1
    }

    override def next(): InternalRow = {
      val e = matchEntry
      val out = resultProj(joined(cur, table.rows(e)))
      matchEntry = table.next(e)
      out
    }
  }
}
