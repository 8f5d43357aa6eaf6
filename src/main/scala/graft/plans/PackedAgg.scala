package graft.plans

import graft.functions.DistinctWithHll

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Packed-payload shuffle aggregation over grouping keys in the
  * long-widenable domain PLUS strings — one operator for every key
  * shape: a single int/long/date/timestamp key (h2oai `GROUP BY id`),
  * composite keys (the ClickBench `GROUP BY UserID, SearchPhrase[,
  * minute]` class), and the inner dedup exchange of `count(DISTINCT
  * string)` rewrites.
  *
  * Why: in the groups≈rows regime Spark's
  * partial→exchange→final serializes ONE UnsafeRow per (partition, group)
  * through the shuffle — for a 10M-group string-keyed aggregate that is
  * 10M rows of per-row shuffle-writer work on both sides of the wire.
  * The reference radix-partitions flat hash-table payloads instead
  * (/root/reference/src/execution/operator/aggregate/
  * radix_partitioned_hashtable.cpp): partials move as packed per-bucket
  * blocks, not rows. Here the map stage aggregates into an
  * open-addressing map with FLAT key/state arrays (string keys interned
  * into a per-map byte pool), then emits each key-hash bucket as ONE
  * binary row [n × (hash, nullmask, long keys, string lens), string
  * bytes, fixed-width state blocks]; the exchange moves
  * O(buckets × partitions) rows; reducers own disjoint hash slices and
  * merge blobs into a dense map.
  *
  * Scale posture: map memory is bounded by `Tuning.flushGroups` groups
  * and [[PackedAgg.PoolFlushBytes]] of interned string bytes — past
  * either, the map flushes as blobs and resets (blob merge is
  * associative). Reducer state is total-groups/buckets; `buckets`
  * derives from the replaced exchange's partition count so
  * `spark.sql.shuffle.partitions` stays the scaling knob. NULL key
  * components are inline (a per-group null mask), so no side channel.
  *
  * Routed by [[graft.rules.PackedShuffleAgg]] for the Final/Partial and
  * PartialMerge/Partial (distinct-rewrite inner dedup) pairs whose keys
  * fit the domain and whose aggregates compile to [[DriverAgg.layout]]
  * slots. One long key (no string key) probes the map in place
  * ([[MultiKeyMap.slotOfLong]]) and may carry the `ORDER BY k LIMIT n`
  * key prune ([[KeyTopN]]).
  *
  * The same partial is the driver-final aggregate's ([[DriverFinal]]):
  * one partial, two sinks — the bucket shuffle to [[PackedFinalAggExec]],
  * or the task results [[DriverGroupAggExec]] merges on the driver, both
  * through [[KeyLayout.mergeBlob]].
  */
object PackedAgg {

  /** Interned-string pool bytes per map before a flush-and-reset. */
  val PoolFlushBytes: Int = 64 << 20

  /** Settings a packed partial freezes at planning time (see
    * [[graft.GraftConf]]):
    *  - `flushGroups`: the map flushes as blobs and resets past this
    *    many groups (`spark.graft.agg.flushGroups`);
    *  - `checkRows`: rows before the adaptive partial skip decides
    *    (below; `spark.graft.agg.passThroughCheckRows`);
    *  - `dictKeys`: dict-id key fast path in the columnar partial
    *    (per-batch entry hashing over dictionary-served string keys, and
    *    for a lone string key a per-batch entry → slot memo; arm
    *    `PackedAgg.dictKeys`);
    *  - `pairKeys`: the 2-key pair→slot memo (below; arm
    *    `PackedAgg.pairKeys`).
    *
    * The pair memo: string keys served
    * from a batch dictionary are interned into a per-task global id
    * space (DictStore ids are per-batch, so cross-batch pair identity
    * needs the translation), long keys pair by value, and the composite
    * (key1, key2) memoizes its MultiKeyMap slot — repeat rows of a pair
    * skip the staged hash + byte-compare probe entirely (the reference
    * engine's dictionary-vector grouping resolves each distinct entry
    * once per vector, src/common/types/vector.cpp). Slots move on map
    * growth/reset, so memos are generation-checked.
    *
    * Adaptive partial skip — DuckDB's no-reduction bailout (reference:
    * radix_partitioned_hashtable.cpp abandons local aggregation when the
    * observed group/row ratio shows the hash phase reduces nothing).
    * After `checkRows` rows, if the map holds more than
    * [[PassThroughGroupRatio]] × rows groups, the partial emits what it
    * has and switches to PASS-THROUGH: each further row appends straight
    * to its bucket's blob builder as a one-row group fragment (the state
    * block is the singleton accumulator), skipping the map probe the
    * groups≈rows regime wastes. Blob merge is associative, so map-phase and
    * pass-through fragments coexist. A lone long key never switches (see
    * the partial's `ptCheckRows`).
    */
  final case class Tuning(flushGroups: Int, checkRows: Int,
      dictKeys: Boolean, pairKeys: Boolean)

  /** The driver sink of a packed partial ([[DriverGroupAggExec]]): its
    * blobs return as task results and merge on the driver instead of
    * crossing a shuffle. In this mode the partial
    *  - never passes rows through (the driver merges every fragment);
    *  - carries object-state slots (bounded `count(DISTINCT)`, string
    *    min/max) in a per-group [[DriverAgg.ObjState]] side array next to
    *    the state blob ([[Blob.objs]]);
    *  - reads inputs that [[PackedPartialAggExec.columnarEligible]] cannot
    *    resolve to a column through the value projection over the batch's
    *    row view, keys still off the vectors;
    *  - folds a deterministic `FilterExec` over `ColumnarToRow` into its
    *    selection (rules/VectorizedCacheRead);
    *  - trips the `maxGroups` valve when one map outgrows it.
    */
  final case class DriverFinal(maxGroups: Int)

  /** One emitted packed fragment: the key-hash `bucket`, the keys and
    * state blobs (layouts in [[PackedPartialAggExec]]), and in driver
    * mode the groups' object state in record order (else null).
    */
  final case class Blob(bucket: Int, keys: Array[Byte], state: Array[Byte],
      objs: Array[DriverAgg.ObjState])

  /** Groups per row read above which the partial skip passes rows
    * through (see [[Tuning]]). */
  val PassThroughGroupRatio: Double = 0.75

  /** The active session's [[Tuning]]. */
  def tuning(): Tuning = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    Tuning(conf.getConf(graft.GraftConf.FlushGroups),
      conf.getConf(graft.GraftConf.PassThroughCheckRows),
      graft.GraftConf.enabled("PackedAgg.dictKeys"),
      graft.GraftConf.enabled("PackedAgg.pairKeys"))
  }

  /** Pair-key intern budget per string key: past this many distinct
    * values the task has proved cross-batch reuse is low (every batch
    * brings mostly new entries — the q15-class high-cardinality regime),
    * so the pair path permanently yields to the generic loop. Bounds
    * intern memory AND the per-batch translation overhead. The count is
    * of every dictionary entry a batch translates, including entries no
    * surviving row references (e.g. under a selective folded filter), so
    * the budget can trip on values that are never grouped.
    */
  val PairInternCap: Int = 1 << 15

  /** Pass-through blob builder emit threshold (record + string bytes). */
  private[plans] val BuilderEmitBytes: Int = 256 << 10

  /** Per-bucket growable blob builder for the pass-through path: record
    * region, string-byte region, and state region append independently;
    * `emitBlobs` assembles the wire format ([n][records][strBytes] +
    * state) and resets. Arrays are reused across emits; the singleton
    * block write overwrites every state byte of its record.
    */
  private[plans] final class BucketBuilder(recBytes: Int, blockBytes: Int) {
    var recs = new Array[Byte](recBytes * 64)
    var nRecs = 0
    var strs = new Array[Byte](1 << 10)
    var strLen = 0
    var state = new Array[Byte](math.max(blockBytes * 64, 64))

    def bytes: Int = nRecs * recBytes + strLen

    def ensureRec(): Unit =
      if ((nRecs + 1) * recBytes > recs.length)
        recs = java.util.Arrays.copyOf(recs, recs.length * 2)

    def ensureStr(len: Int): Unit = {
      var cap = strs.length
      while (strLen + len > cap) cap *= 2
      if (cap != strs.length) strs = java.util.Arrays.copyOf(strs, cap)
    }

    /** State-block region for record `nRecs` (Platform offset). */
    def stateBlockOffset(): Long = {
      if ((nRecs + 1) * blockBytes > state.length)
        state = java.util.Arrays.copyOf(state, math.max(state.length * 2, 64))
      Platform.BYTE_ARRAY_OFFSET + nRecs * blockBytes
    }

    /** (keys blob, state blob) in the wire format, then reset. */
    def emitBlobs(): (Array[Byte], Array[Byte]) = {
      val keys = new Array[Byte](4 + nRecs * recBytes + strLen)
      Platform.putInt(keys, Platform.BYTE_ARRAY_OFFSET, nRecs)
      System.arraycopy(recs, 0, keys, 4, nRecs * recBytes)
      System.arraycopy(strs, 0, keys, 4 + nRecs * recBytes, strLen)
      val st = java.util.Arrays.copyOf(state, nRecs * blockBytes)
      nRecs = 0
      strLen = 0
      (keys, st)
    }
  }

  /** Null-guard view over a batch column for the FILTER-folded inputs:
    * a row reads as NULL when the base column OR any guard column is
    * NULL — the batch-direct evaluation of `If(IsNotNull(g1) AND ...,
    * x, NULL)`. Value getters delegate to the base vector.
    */
  private[plans] final class GuardedColumnVector(
      base: ColumnVector, guards: Array[ColumnVector])
    extends ColumnVector(base.dataType) {
    override def isNullAt(i: Int): Boolean = {
      if (base.isNullAt(i)) return true
      var j = 0
      while (j < guards.length) { if (guards(j).isNullAt(i)) return true; j += 1 }
      false
    }
    override def hasNull: Boolean = true
    override def numNulls(): Int = 0 // unused by the partial loop
    override def getBoolean(i: Int): Boolean = base.getBoolean(i)
    override def getByte(i: Int): Byte = base.getByte(i)
    override def getShort(i: Int): Short = base.getShort(i)
    override def getInt(i: Int): Int = base.getInt(i)
    override def getLong(i: Int): Long = base.getLong(i)
    override def getFloat(i: Int): Float = base.getFloat(i)
    override def getDouble(i: Int): Double = base.getDouble(i)
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      base.getArray(i)
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      base.getMap(i)
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      base.getDecimal(i, p, s)
    override def getUTF8String(i: Int): UTF8String = base.getUTF8String(i)
    override def getBinary(i: Int): Array[Byte] = base.getBinary(i)
    override def getChild(ordinal: Int): ColumnVector = base.getChild(ordinal)
    override def close(): Unit = ()
  }

  def supportedKey(dt: DataType): Boolean =
    SortedRunAggExec.supportedKey(dt) || dt == StringType

  /** `ORDER BY k LIMIT limit` (`desc`) over the one long key `k` of a
    * packed pair: the partial ships only each map's `limit` best keys.
    * Sound because the long key order IS the group order for every
    * long-widenable key type (lossless signed widening), keys are unique
    * per map (no ties), and the NULL group is never pruned (all its
    * fragments survive, so its merged aggregate stays complete).
    */
  final case class KeyTopN(limit: Int, desc: Boolean)

  /** A partial task's [[KeyTopN]] state. Once the map holds `at` groups
    * (2×limit, at least 1024) it is cut to its `limit` best non-null
    * keys, and the worst kept key becomes the threshold: a later row
    * whose key is worse is dropped with one compare — its group already
    * has `limit` distinct keys ahead of it in this partition, so it
    * cannot reach the global top `limit`. Every emitted map is cut the
    * same way first.
    */
  private[plans] final class KeyPrune(tn: KeyTopN) {
    val at: Int = math.max(2 * tn.limit, 1024)
    // the always-pass extreme until the first cut
    private var thr = if (tn.desc) Long.MinValue else Long.MaxValue

    def keeps(key: Long): Boolean = if (tn.desc) key >= thr else key <= thr

    def prune(m: MultiKeyMap): Unit = {
      val heap = new BoundedLongHeap(tn.limit, max = !tn.desc)
      m.foreachSlot(s => if (m.maskAt(s) == 0L) heap.offer(m.longKeyAt(s, 0)))
      if (heap.full) {
        thr = heap.threshold
        m.retain(s => m.maskAt(s) != 0L || keeps(m.longKeyAt(s, 0)))
      }
    }
  }

  /** Bounded selection heap over primitive longs: retains the `cap`
    * smallest (`max = true` → max-heap root is the retention threshold)
    * or largest values offered. Keys are unique, so after `cap` offers
    * the keep predicate `k <= threshold` (asc) / `k >= threshold` (desc)
    * selects exactly the retained set.
    */
  private final class BoundedLongHeap(cap: Int, max: Boolean) {
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

  /** Key kinds: widened-to-long vs interned string. */
  final val KindLong = 0
  final val KindStr = 1

  def kindOf(dt: DataType): Int = if (dt == StringType) KindStr else KindLong

  private final val HashSeed = -7046029254386353131L
  private final val NullMix = -7046029254386353131L ^ 0x9E3779B97F4A7C15L

  /** Deterministic 64-bit mix (xxhash-style avalanche step) — identical
    * across JVMs, so partial-side bucketing and final-side probing agree
    * and the cross-JVM determinism check holds.
    */
  def mix(h: Long, v: Long): Long = {
    val x = (h ^ v) * -7070675565921424023L // 0x9E3779B185EBCA87
    java.lang.Long.rotateLeft(x, 31) * -4417276706812531889L // 0xC2B2AE3D27D4EB4F
  }

  def mixNull(h: Long): Long = mix(h, NullMix)

  def hashStr(s: UTF8String): Long =
    Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42).toLong

  def hashSeed: Long = HashSeed

  private[plans] def bucketOf(h: Long, buckets: Int): Int =
    math.floorMod(DistinctWithHll.scramble(h), buckets).toInt

  /** Cross-batch string→dense-id interning for the pair-key fast path.
    * Entries are cloned on insert (probe strings view transient batch
    * dictionaries — the intern owns its bytes); lookups verify bytes, so
    * hash collisions cannot merge distinct values.
    */
  private[plans] final class StrIntern {
    private var cap = 1 << 10
    private var mask = cap - 1
    private var gidTab = new Array[Int](cap)
    private var hsTab = new Array[Long](cap)
    java.util.Arrays.fill(gidTab, -1)
    private var strs = new Array[UTF8String](cap)
    /** Number of interned values (= next gid). */
    var n = 0

    def gidOf(s: UTF8String, h: Long): Int = {
      var i = (h & mask).toInt
      while (gidTab(i) >= 0 && (hsTab(i) != h || !strs(gidTab(i)).equals(s)))
        i = (i + 1) & mask
      if (gidTab(i) >= 0) gidTab(i)
      else {
        if (n >= cap - (cap >> 2)) { grow(); gidOf(s, h) }
        else {
          if (n >= strs.length) strs = java.util.Arrays.copyOf(strs, strs.length * 2)
          strs(n) = s.clone()
          gidTab(i) = n; hsTab(i) = h
          n += 1
          n - 1
        }
      }
    }

    private def grow(): Unit = {
      val og = gidTab; val oh = hsTab
      cap <<= 1; mask = cap - 1
      gidTab = new Array[Int](cap); java.util.Arrays.fill(gidTab, -1)
      hsTab = new Array[Long](cap)
      var i = 0
      while (i < og.length) {
        if (og(i) >= 0) {
          var j = (oh(i) & mask).toInt
          while (gidTab(j) >= 0) j = (j + 1) & mask
          gidTab(j) = og(i); hsTab(j) = oh(i)
        }
        i += 1
      }
    }
  }

  /** (key1, key2) → [[MultiKeyMap]] slot memo for the 2-key columnar
    * fast path. Slot indices move when the map grows or resets, so every
    * entry is valid for exactly one map generation: callers `sync` the
    * cache to the map's generation before trusting a hit (one int
    * compare; a mismatch clears). Key compares are exact longs — no
    * false merges.
    */
  private[plans] final class PairSlotCache {
    private var cap = 1 << 13
    private var mask = cap - 1
    private var k1 = new Array[Long](cap)
    private var k2 = new Array[Long](cap)
    private var slots = new Array[Int](cap)
    java.util.Arrays.fill(slots, -1)
    private var size = 0
    private var gen = Int.MinValue

    def sync(g: Int): Unit = if (g != gen) {
      java.util.Arrays.fill(slots, -1); size = 0; gen = g
    }

    /** Memoized slot of (a, b), or -1. */
    def find(a: Long, b: Long): Int = {
      var i = (mix(mix(HashSeed, a), b) & mask).toInt
      while (slots(i) >= 0 && (k1(i) != a || k2(i) != b)) i = (i + 1) & mask
      slots(i)
    }

    /** Insert (a, b) → s; the key must be absent (a preceding `find`
      * returned -1 under the current generation). */
    def put(a: Long, b: Long, s: Int): Unit = {
      if (size >= cap - (cap >> 2)) grow()
      var i = (mix(mix(HashSeed, a), b) & mask).toInt
      while (slots(i) >= 0) i = (i + 1) & mask
      k1(i) = a; k2(i) = b; slots(i) = s
      size += 1
    }

    private def grow(): Unit = {
      val oc = cap; val o1 = k1; val o2 = k2; val os = slots
      cap <<= 1; mask = cap - 1
      k1 = new Array[Long](cap); k2 = new Array[Long](cap)
      slots = new Array[Int](cap); java.util.Arrays.fill(slots, -1)
      var i = 0
      while (i < oc) {
        if (os(i) >= 0) {
          var j = (mix(mix(HashSeed, o1(i)), o2(i)) & mask).toInt
          while (slots(j) >= 0) j = (j + 1) & mask
          k1(j) = o1(i); k2(j) = o2(i); slots(j) = os(i)
        }
        i += 1
      }
    }
  }

  /** Open-addressing composite-key→slot map with flat key/state arrays
    * and an interned-string byte pool. Callers stage the probe key in
    * `stageLongs`/`stageStrs`/`stageMask` and pass the precomputed
    * 64-bit hash; insertion copies staged strings into the pool (probe
    * strings may reference transient batch/row buffers — the map owns
    * its bytes). Zero-initialized state is the fresh accumulator.
    */
  final class MultiKeyMap(nLK: Int, nSK: Int, nL: Int, nD: Int, nF: Int,
      initCap: Int = 1 << 12, hasObjs: Boolean = false) {
    private var cap = Integer.highestOneBit(math.max(initCap, 16))
    private var mask = cap - 1
    private var hashes = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var lkeys = new Array[Long](cap * nLK)
    private var soffs = new Array[Int](cap * nSK)
    private var slens = new Array[Int](cap * nSK)
    private var nullMasks = new Array[Long](cap)
    var size = 0
    var longs = new Array[Long](cap * nL)
    var doubles = new Array[Double](cap * nD)
    var flags = new Array[Boolean](cap * nF)
    /** Per-slot object state (driver mode's side array), else null. A
      * slot's entry is null until its group first updates an object slot. */
    var objs: Array[DriverAgg.ObjState] =
      if (hasObjs) new Array[DriverAgg.ObjState](cap) else null

    /** Slot s's object state, made by `k` on first use. */
    def objAt(s: Int, k: SlotKernel): DriverAgg.ObjState = {
      var o = objs(s)
      if (o == null) { o = k.newObj(); objs(s) = o }
      o
    }
    private var pool = new Array[Byte](if (nSK == 0) 0 else 1 << 16)
    var poolLen = 0

    // probe staging (filled by the caller before slotOf)
    val stageLongs = new Array[Long](math.max(nLK, 1))
    val stageStrs = new Array[UTF8String](math.max(nSK, 1))
    var stageMask: Long = 0L

    /** Bumped whenever slot indices move (grow/reset) — external slot
      * memos ([[PairSlotCache]]) clear when it advances. */
    var generation: Int = 0

    private def keyEq(i: Int): Boolean = {
      if (nullMasks(i) != stageMask) return false
      var j = 0
      while (j < nLK) {
        if (lkeys(i * nLK + j) != stageLongs(j)) return false
        j += 1
      }
      j = 0
      while (j < nSK) {
        // a null staged string ⇔ stored null — the mask equality above
        // already decided it; only non-null values need a byte compare
        val s = stageStrs(j)
        if (s != null) {
          val len = slens(i * nSK + j)
          if (s.numBytes != len) return false
          if (!ByteArrayMethods.arrayEquals(s.getBaseObject, s.getBaseOffset,
            pool, Platform.BYTE_ARRAY_OFFSET + soffs(i * nSK + j), len.toLong))
            return false
        }
        j += 1
      }
      true
    }

    /** Slot of the staged key under hash `h`, inserting if absent. */
    def slotOf(h: Long): Int = {
      var i = (h & mask).toInt
      while (used(i) && (hashes(i) != h || !keyEq(i))) i = (i + 1) & mask
      if (!used(i)) {
        if (size >= cap - (cap >> 2)) { grow(); return slotOf(h) }
        used(i) = true
        hashes(i) = h
        nullMasks(i) = stageMask
        var j = 0
        while (j < nLK) { lkeys(i * nLK + j) = stageLongs(j); j += 1 }
        j = 0
        while (j < nSK) {
          val s = stageStrs(j)
          if (s == null) { soffs(i * nSK + j) = 0; slens(i * nSK + j) = 0 }
          else {
            val len = s.numBytes
            if (poolLen + len > pool.length) {
              val grown = new Array[Byte](math.max(pool.length * 2, poolLen + len))
              System.arraycopy(pool, 0, grown, 0, poolLen)
              pool = grown
            }
            s.writeToMemory(pool, Platform.BYTE_ARRAY_OFFSET + poolLen)
            soffs(i * nSK + j) = poolLen
            slens(i * nSK + j) = len
            poolLen += len
          }
          j += 1
        }
        size += 1
      }
      i
    }

    /** [[slotOf]] for a lone non-null long key (one long key, no
      * string key) under `h = mix(hashSeed, key)`. That hash is a
      * bijection of the key, so a probe compares hashes only: the one
      * other entry that can hold `h` is the NULL group (`mixNull`), and
      * only when `key` is the null mix constant (0). */
    def slotOfLong(h: Long, key: Long): Int = {
      var i = (h & mask).toInt
      while (used(i) && (hashes(i) != h || (key == NullMix && nullMasks(i) != 0L)))
        i = (i + 1) & mask
      if (!used(i)) {
        if (size >= cap - (cap >> 2)) { grow(); return slotOfLong(h, key) }
        used(i) = true; hashes(i) = h; nullMasks(i) = 0L; lkeys(i) = key
        size += 1
      }
      i
    }

    private def grow(): Unit = rehash(cap << 1, null)

    /** Drop every group whose slot fails `keep` (the pool keeps its
      * bytes until the next reset). */
    def retain(keep: Int => Boolean): Unit = rehash(cap, keep)

    private def rehash(newCap: Int, keep: Int => Boolean): Unit = {
      generation += 1
      val oc = cap
      // decided over the old arrays, before they are replaced
      val kept = if (keep == null) used else Array.tabulate(cap)(i => used(i) && keep(i))
      val oh = hashes; val olk = lkeys
      val oso = soffs; val osl = slens; val onm = nullMasks
      val oL = longs; val oD = doubles; val oF = flags; val oO = objs
      cap = newCap; mask = cap - 1
      hashes = new Array[Long](cap); used = new Array[Boolean](cap)
      lkeys = new Array[Long](cap * nLK)
      soffs = new Array[Int](cap * nSK); slens = new Array[Int](cap * nSK)
      nullMasks = new Array[Long](cap)
      longs = new Array[Long](cap * nL)
      doubles = new Array[Double](cap * nD)
      flags = new Array[Boolean](cap * nF)
      if (oO != null) objs = new Array[DriverAgg.ObjState](cap)
      size = 0
      var i = 0
      while (i < oc) {
        if (kept(i)) {
          var j = (oh(i) & mask).toInt
          while (used(j)) j = (j + 1) & mask
          used(j) = true; hashes(j) = oh(i); nullMasks(j) = onm(i)
          System.arraycopy(olk, i * nLK, lkeys, j * nLK, nLK)
          System.arraycopy(oso, i * nSK, soffs, j * nSK, nSK)
          System.arraycopy(osl, i * nSK, slens, j * nSK, nSK)
          System.arraycopy(oL, i * nL, longs, j * nL, nL)
          System.arraycopy(oD, i * nD, doubles, j * nD, nD)
          System.arraycopy(oF, i * nF, flags, j * nF, nF)
          if (oO != null) objs(j) = oO(i)
          size += 1
        }
        i += 1
      }
    }

    def hashAt(i: Int): Long = hashes(i)
    def maskAt(i: Int): Long = nullMasks(i)
    def longKeyAt(i: Int, j: Int): Long = lkeys(i * nLK + j)
    def strLenAt(i: Int, j: Int): Int = slens(i * nSK + j)
    def strOffAt(i: Int, j: Int): Int = soffs(i * nSK + j)
    def poolArray: Array[Byte] = pool

    def slotIterator: Iterator[Int] = new Iterator[Int] {
      private var i = 0
      private def advance(): Unit = { while (i < cap && !used(i)) i += 1 }
      advance()
      def hasNext: Boolean = i < cap
      def next(): Int = { val r = i; i += 1; advance(); r }
    }

    def foreachSlot(f: Int => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(i); i += 1 }
    }

    /** Keep allocated capacity (incl. the pool array) across flushes. */
    def reset(): Unit = {
      generation += 1
      java.util.Arrays.fill(used, false)
      java.util.Arrays.fill(longs, 0L)
      java.util.Arrays.fill(doubles, 0.0)
      java.util.Arrays.fill(flags, false)
      if (objs != null) java.util.Arrays.fill(objs.asInstanceOf[Array[AnyRef]], null)
      size = 0
      poolLen = 0
    }
  }

  /** Key shape of a packed aggregate: each key's kind (widened long or
    * interned string) and index into its kind's block, and the bytes of
    * one key record [hash, null mask, long keys, string lengths]. The
    * partial encodes with it; [[mergeBlob]] and [[keyWriter]] are the
    * reducer's decode, shared by the shuffle final and the driver sink.
    */
  final case class KeyLayout(keyTypes: Seq[DataType]) {
    val n: Int = keyTypes.length
    val kinds: Array[Int] = keyTypes.map(kindOf).toArray
    val subIdx: Array[Int] = {
      var li = 0; var si = 0
      kinds.map { k => if (k == KindLong) { li += 1; li - 1 } else { si += 1; si - 1 } }
    }
    val nLK: Int = kinds.count(_ == KindLong)
    val nSK: Int = kinds.count(_ == KindStr)
    val recBytes: Int = 16 + 8 * nLK + 4 * nSK
    /** One long key, no string key: probed in place ([[MultiKeyMap.slotOfLong]]). */
    val oneLong: Boolean = n == 1 && nLK == 1

    /** Merge every group of one blob into `m`; `objs` (driver mode) is
      * the blob's object-state side array, in record order. */
    def mergeBlob(m: MultiKeyMap, k: SlotKernel, keys: Array[Byte], state: Array[Byte],
        objs: Array[DriverAgg.ObjState]): Unit = {
      val nRec = Platform.getInt(keys, Platform.BYTE_ARRAY_OFFSET)
      var cursor = 4 + nRec * recBytes
      var g = 0
      while (g < nRec) {
        var p = Platform.BYTE_ARRAY_OFFSET + 4 + g * recBytes
        val h = Platform.getLong(keys, p); p += 8
        val msk = Platform.getLong(keys, p); p += 8
        var j = 0
        while (j < nLK) { m.stageLongs(j) = Platform.getLong(keys, p); p += 8; j += 1 }
        j = 0
        while (j < nSK) {
          val len = Platform.getInt(keys, p); p += 4
          // a zero-length slice is "" — the mask decides null below
          m.stageStrs(j) = UTF8String.fromBytes(keys, cursor, len)
          cursor += len
          j += 1
        }
        // null components: clear the staged string (mask carries null-ness)
        j = 0
        while (j < n) {
          if ((msk & (1L << j)) != 0 && kinds(j) == KindStr) m.stageStrs(subIdx(j)) = null
          j += 1
        }
        m.stageMask = msk
        val s = if (oneLong && msk == 0L) m.slotOfLong(h, m.stageLongs(0)) else m.slotOf(h)
        k.mergeBlob(m.longs, m.doubles, m.flags, s, state,
          Platform.BYTE_ARRAY_OFFSET + g.toLong * k.blockBytes)
        if (objs != null && objs(g) != null) {
          if (m.objs(s) == null) m.objs(s) = objs(g) else k.mergeObj(m.objs(s), objs(g))
        }
        g += 1
      }
    }

    /** Writes slot s's keys into fields 0 until n of `row` with typed
      * setters (allocation-free over a SpecificInternalRow). */
    def keyWriter(m: MultiKeyMap, row: InternalRow): Int => Unit = {
      val ws: Array[Int => Unit] = Array.tabulate(n) { j =>
        val bit = 1L << j
        if (kinds(j) == KindStr) {
          val si = subIdx(j)
          (s: Int) =>
            if ((m.maskAt(s) & bit) != 0) row.setNullAt(j)
            else row.update(j,
              UTF8String.fromBytes(m.poolArray, m.strOffAt(s, si), m.strLenAt(s, si)))
        } else {
          val li = subIdx(j)
          keyTypes(j) match {
            case ByteType => (s: Int) =>
              if ((m.maskAt(s) & bit) != 0) row.setNullAt(j)
              else row.setByte(j, m.longKeyAt(s, li).toByte)
            case ShortType => (s: Int) =>
              if ((m.maskAt(s) & bit) != 0) row.setNullAt(j)
              else row.setShort(j, m.longKeyAt(s, li).toShort)
            case IntegerType | DateType => (s: Int) =>
              if ((m.maskAt(s) & bit) != 0) row.setNullAt(j)
              else row.setInt(j, m.longKeyAt(s, li).toInt)
            case _ => (s: Int) =>
              if ((m.maskAt(s) & bit) != 0) row.setNullAt(j)
              else row.setLong(j, m.longKeyAt(s, li))
          }
        }
      }
      (s: Int) => { var j = 0; while (j < n) { ws(j)(s); j += 1 } }
    }
  }

  // ---- columnar key extraction --------------------------------------
  // The keys the batch loop reads straight off the vectors, with no row
  // projection: plain int/long/date/timestamp and string columns, plus
  // calendar and fixed-width (hour/day) truncs of a micros column, read
  // as long keys — the reference's perfect-hash aggregate reads those
  // the same way (physical_perfecthash_aggregate.cpp).
  sealed trait ColKeyPart extends Serializable { def ord: Int }
  final case class LongKeyPart(ord: Int, intWidth: Boolean) extends ColKeyPart
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
    * timestamp column. No keys (an ungrouped aggregate) is trivially
    * translatable.
    */
  private[plans] def colKeyParts(groupExprs: Seq[Expression],
      childOut: Seq[Attribute]): Option[Seq[ColKeyPart]] = {
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
            Some(LongKeyPart(ordOf(a), intWidth = true))
          case LongType | TimestampType | TimestampNTZType =>
            Some(LongKeyPart(ordOf(a), intWidth = false))
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
}

object PackedPartialAggExec {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("bucket", IntegerType, nullable = false)(),
    AttributeReference("keys", BinaryType, nullable = false)(),
    AttributeReference("state", BinaryType, nullable = false)())
}

/** Map stage: per-partition flat-state multi-key aggregation + bucketed
  * packed emit (see [[PackedAgg]]).
  *
  * Keys blob layout (LE): [n:int][per group: hash:long, nullmask:long,
  * longKeys:8×nLK, strLens:4×nSK][string bytes, group-major]. State blob:
  * n × (8·nL + 8·nD + nF), [[SlotKernel]]'s block encoding.
  *
  * Two sinks: the blobs go as rows through a bucket shuffle to
  * [[PackedFinalAggExec]], or (`driverFinal`, one bucket) as task
  * results to [[DriverGroupAggExec]]'s driver merge
  * ([[executeBlobs]]; see [[PackedAgg.DriverFinal]]).
  *
  * `topN` (one long key only, set by [[graft.rules.PackedShuffleAgg]]
  * under `ORDER BY k LIMIT n`) prunes the map to its top-`limit` keys —
  * see [[PackedAgg.KeyPrune]].
  */
final case class PackedPartialAggExec(
    keyExprs: Seq[Expression],
    keyTypes: Seq[DataType],
    aggInputs: Seq[Expression],
    slots: Seq[DriverAgg.Slot],
    nL: Int, nD: Int, nF: Int,
    buckets: Int,
    output: Seq[Attribute],
    child: SparkPlan,
    columnarChild: Boolean,
    ansi: Boolean,
    // folded CacheFilter conjuncts, evaluated per batch through
    // DictSelection (columnar path only) — set by InsertCacheColumnarToRow
    selection: Seq[Expression] = Nil,
    tuning: PackedAgg.Tuning,
    topN: Option[PackedAgg.KeyTopN] = None,
    driverFinal: Option[PackedAgg.DriverFinal] = None) extends UnaryExecNode {
  import PackedAgg._

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): PackedPartialAggExec =
    copy(child = c)

  private val kl = KeyLayout(keyTypes)
  private val blockBytes = 8 * nL + 8 * nD + nF

  /** Batch-direct input resolution: the (source attribute, null-guard
    * attributes) pair when the expression reads, per row, exactly as:
    * NULL iff the source or any guard column is NULL, else the source's
    * numerically-widened value. Covers bare attributes, numeric
    * casts-to-double (the batch readers already widen by column type —
    * same IEEE result), and the FILTER fold `If(IsNotNull-conj, x,
    * NULL)` emitted by DriverAgg.layout.
    */
  private def resolveIn(e: Expression,
      out: Seq[Attribute]): Option[(Attribute, Seq[Attribute])] = {
    def here(a: Attribute): Boolean = out.exists(_.exprId == a.exprId)
    def srcAttr(x: Expression): Option[Attribute] = x match {
      case a: Attribute if here(a) => Some(a)
      case c: Cast if c.dataType == DoubleType => c.child match {
        case a: Attribute if here(a) && (a.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType => true
          case _ => false
        }) => Some(a)
        case _ => None
      }
      case _ => None
    }
    def conj(p: Expression): Seq[Expression] = p match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    e match {
      case If(pred, x, Literal(null, _)) =>
        val gs = conj(pred).map {
          case IsNotNull(a: Attribute) if here(a) => Some(a)
          case _ => None
        }
        if (gs.forall(_.isDefined)) srcAttr(x).map((_, gs.flatten))
        else None
      case x => srcAttr(x).map((_, Seq.empty[Attribute]))
    }
  }

  /** Every key reads off the vectors ([[PackedAgg.colKeyParts]]) and
    * every agg input batch-resolves ([[resolveIn]]) against `scan` — the
    * batch loop can run. In driver mode an input that does not resolve
    * is evaluated through the value projection over the batch's row view.
    */
  def columnarEligible(scan: SparkPlan): Boolean =
    colKeyParts(keyExprs, scan.output).isDefined &&
      aggInputs.forall(e => resolveIn(e, scan.output).isDefined ||
        driverFinal.isDefined && e.references.subsetOf(scan.outputSet))

  /** Emit the map as packed blobs (one per non-empty bucket). */
  private def emitBlobs(k: SlotKernel, m: MultiKeyMap): Iterator[Blob] = {
    val nBuckets = buckets
    val (nLK, nSK, recBytes) = (kl.nLK, kl.nSK, kl.recBytes)
    val counts = new Array[Int](nBuckets)
    val strBytes = new Array[Long](nBuckets)
    m.foreachSlot { s =>
      val b = bucketOf(m.hashAt(s), nBuckets)
      counts(b) += 1
      var j = 0
      while (j < nSK) { strBytes(b) += m.strLenAt(s, j); j += 1 }
    }
    val keyArrs = new Array[Array[Byte]](nBuckets)
    val stateArrs = new Array[Array[Byte]](nBuckets)
    val objArrs = new Array[Array[DriverAgg.ObjState]](nBuckets)
    val recPos = new Array[Int](nBuckets)   // next record write offset
    val bytePos = new Array[Int](nBuckets)  // next string-byte write offset
    val statePos = new Array[Int](nBuckets)
    val groupPos = new Array[Int](nBuckets)
    var b = 0
    while (b < nBuckets) {
      if (counts(b) > 0) {
        keyArrs(b) = new Array[Byte](4 + counts(b) * recBytes + strBytes(b).toInt)
        stateArrs(b) = new Array[Byte](counts(b) * blockBytes)
        if (m.objs != null) objArrs(b) = new Array[DriverAgg.ObjState](counts(b))
        // record count header
        Platform.putInt(keyArrs(b), Platform.BYTE_ARRAY_OFFSET, counts(b))
        recPos(b) = 4
        bytePos(b) = 4 + counts(b) * recBytes
      }
      b += 1
    }
    val pool = m.poolArray
    m.foreachSlot { s =>
      val bk = bucketOf(m.hashAt(s), nBuckets)
      val arr = keyArrs(bk)
      var p = Platform.BYTE_ARRAY_OFFSET + recPos(bk)
      Platform.putLong(arr, p, m.hashAt(s)); p += 8
      Platform.putLong(arr, p, m.maskAt(s)); p += 8
      var j = 0
      while (j < nLK) { Platform.putLong(arr, p, m.longKeyAt(s, j)); p += 8; j += 1 }
      j = 0
      while (j < nSK) {
        val len = m.strLenAt(s, j)
        Platform.putInt(arr, p, len); p += 4
        System.arraycopy(pool, m.strOffAt(s, j), arr, bytePos(bk), len)
        bytePos(bk) += len
        j += 1
      }
      recPos(bk) += recBytes
      k.writeBlock(m.longs, m.doubles, m.flags, s, stateArrs(bk),
        Platform.BYTE_ARRAY_OFFSET + statePos(bk))
      statePos(bk) += blockBytes
      if (m.objs != null) objArrs(bk)(groupPos(bk)) = m.objs(s)
      groupPos(bk) += 1
    }
    (0 until nBuckets).iterator.filter(b => keyArrs(b) != null)
      .map(b => Blob(b, keyArrs(b), stateArrs(b), objArrs(b)))
  }

  /** The partial's blobs, for the driver sink ([[DriverGroupAggExec]]):
    * the same job as [[execute]], without the row encoding. */
  def executeBlobs(): RDD[Blob] = executeQuery(blobs())

  override protected def doExecute(): RDD[InternalRow] =
    blobs().mapPartitions { it =>
      val proj = UnsafeProjection.create(Array[DataType](IntegerType, BinaryType, BinaryType))
      val row = new GenericInternalRow(3)
      it.map { b =>
        row.update(0, b.bucket); row.update(1, b.keys); row.update(2, b.state)
        proj(row).copy()
      }
    }

  /** The partial's job: per partition, the map's blobs (see the class
    * doc), flushed as it goes. */
  private def blobs(): RDD[Blob] = {
    val numOut = longMetric("numOutputRows")
    val iExprs = aggInputs
    val (aL, aD, aF) = (nL, nD, nF)
    val childOut = child.output
    def kernel(inTypes: Seq[DataType]) =
      new SlotKernel(slots, inTypes, Nil, nL, nD, nF, ansi)
    val theKinds = kl.kinds
    val theSub = kl.subIdx
    val (kLK, kSK, kN) = (kl.nLK, kl.nSK, kl.n)
    val (recB, blockB, nBuckets) = (kl.recBytes, blockBytes, buckets)
    val oneLong = kl.oneLong
    // never pass through with one long key: its in-place probe costs
    // about what a pass-through append does, and a partition whose
    // first rows look unique still reduces later (GROUP BY l_partkey
    // over TPC-H SF1: 1.98× the radix partial with the switch, 1.23×
    // without); nor in driver mode, whose merge takes every fragment
    val ptCheckRows =
      if (oneLong || driverFinal.isDefined) -1L else tuning.checkRows.toLong
    val ptRatio = PackedAgg.PassThroughGroupRatio
    val flushCap = tuning.flushGroups
    // the maxGroups valve (driver mode): one map past it aborts the job
    val groupCap = driverFinal.fold(Int.MaxValue)(_.maxGroups)
    def checkCap(m: MultiKeyMap): Unit =
      if (m.size > groupCap) throw new DriverAgg.GroupCardinalityExceeded(
        s"driver agg: group count exceeded maxGroups=$groupCap in one partition — " +
          "key is not low-cardinality; falling back to the shuffled aggregate")
    val tn = topN
    if (columnarChild) {
      val keyParts = colKeyParts(keyExprs, childOut).getOrElse(
        throw new IllegalStateException(s"packed agg: key not readable off the batch: $keyExprs"))
      val kOrds = keyParts.map(_.ord).toArray
      // long-key read per key: 0 int, 1 long, 2 fixed-width trunc, 3 calendar
      val kCode: Array[Int] = keyParts.map {
        case LongKeyPart(_, true) => 0
        case _: TruncKeyPart => 2
        case _: CalendarKeyPart => 3
        case _ => 1
      }.toArray
      val kUnit: Array[Long] = keyParts.map {
        case TruncKeyPart(_, u) => u
        case _ => 0L
      }.toArray
      val kCal: Array[CalendarKeyPart] = keyParts.map {
        case c: CalendarKeyPart => c
        case _ => null
      }.toArray
      val resolvedIn = iExprs.map(e => resolveIn(e, childOut))
      // driver mode only (columnarEligible): some input is no column
      // read, so every input goes through the value projection over the
      // batch's row view
      val rowIn = resolvedIn.exists(_.isEmpty)
      val colIn = if (rowIn) Nil else resolvedIn.flatten
      val ords = colIn.map { case (a, _) => childOut.indexWhere(_.exprId == a.exprId) }.toArray
      val guardOrds: Array[Array[Int]] = colIn.map { case (_, gs) =>
        gs.map(g => childOut.indexWhere(_.exprId == g.exprId)).toArray }.toArray
      // batch reads use the SOURCE column's type (a cast-to-double input
      // reads its int/long column and widens in the kernel's double read)
      val k =
        if (rowIn) kernel(iExprs.map(_.dataType))
        else kernel(colIn.map(_._1.dataType))
      val selPreds = if (selection.isEmpty) null else selection.toArray
      val dictKeys = tuning.dictKeys
      val pairKeys = tuning.pairKeys && kN == 2 && kSK >= 1 && dictKeys
      child.executeColumnar().mapPartitions { batches =>
        val m = new MultiKeyMap(kLK, kSK, aL, aD, aF, hasObjs = k.hasObj)
        val pr = tn.map(new KeyPrune(_)).orNull
        val valProj = if (rowIn) UnsafeProjection.create(iExprs, childOut) else null
        // pair-key fast path state (see PackedAgg.Tuning):
        // per-task interns per STRING key position, slot memo, and
        // per-batch local-id → global-id translation arrays
        val interns = if (pairKeys) Array.fill(math.max(kSK, 1))(new StrIntern) else null
        val pairs = if (pairKeys) new PairSlotCache else null
        val gmaps = new Array[Array[Int]](kN)
        // one string key served dictionary-encoded: batch entry id → slot
        // memo, valid for one map generation (see processBatch)
        val oneStr = kN == 1 && kSK == 1 && dictKeys
        var entrySlots = new Array[Int](0)
        val internCap = PackedAgg.PairInternCap
        var pairDead = false // intern budget blown — low cross-batch reuse
        val vecs = new Array[ColumnVector](ords.length)
        val kvecs = new Array[ColumnVector](kOrds.length)
        // folded filter: classified per batch into dict/prim/row tiers
        val sel = if (selPreds == null) null else new DictSelection(selPreds, childOut)
        // per-batch dict-id key fast path: when the cache serves a string
        // key dictionary-encoded, each distinct entry is hashed ONCE per
        // batch and rows key through the id array — the per-row hashStr
        // over string bytes collapses to two array reads (the reference
        // aggregates DICTIONARY vectors by entry the same way,
        // src/common/types/vector.cpp dictionary aggregation path)
        val dictIds = new Array[Array[Int]](kOrds.length)
        val dictStrs = new Array[Array[UTF8String]](kOrds.length)
        val dictHash = new Array[Array[Long]](kOrds.length)
        // emissions produced while consuming the CURRENT batch only —
        // drained to the shuffle writer before the next batch is read,
        // so task heap stays at the documented flushGroups/PoolFlushBytes
        // bound instead of accumulating every flush for the partition
        val flushed = ArrayBuffer.empty[Blob]
        // adaptive partial skip (see PackedAgg.Tuning)
        var rowsSeen = 0L
        var passThrough = false
        var builders: Array[BucketBuilder] = null
        val scratch = k.newAcc() // singleton-block staging state
        def emitBuilder(bk: Int): Blob = {
          val (kb, sb) = builders(bk).emitBlobs()
          Blob(bk, kb, sb, null)
        }
        def emitMap(): Iterator[Blob] = {
          if (pr != null) pr.prune(m)
          val out = emitBlobs(k, m); m.reset(); out
        }
        var batch: org.apache.spark.sql.vectorized.ColumnarBatch = null
        // fold row r into slot s: inputs off the vectors, or through the
        // value projection over the row view
        def upd(r: Int, s: Int): Unit =
          if (valProj == null) {
            k.updateCol(vecs, r, m.longs, m.doubles, m.flags, s)
            if (k.hasObj) k.updateColObj(vecs, r, m.objAt(s, k))
          } else {
            val v = valProj(batch.getRow(r))
            k.updateRow(v, m.longs, m.doubles, m.flags, s)
            if (k.hasObj) k.updateRowObj(v, m.objAt(s, k))
          }
        def longKey(j: Int, v: ColumnVector, r: Int): Long = (kCode(j): @annotation.switch) match {
          case 0 => v.getInt(r).toLong
          case 1 => v.getLong(r)
          case 2 => val us = v.getLong(r); us - Math.floorMod(us, kUnit(j))
          case _ => kCal(j).eval(v.getLong(r))
        }
        // after a map update: the valve, the adaptive skip's check point,
        // the key prune
        def updated(): Unit = {
          checkCap(m)
          rowsSeen += 1
          if (rowsSeen == ptCheckRows && m.size >= rowsSeen * ptRatio) {
            flushed ++= emitMap()
            passThrough = true
            builders = Array.fill(nBuckets)(new BucketBuilder(recB, blockB))
          }
          if (pr != null && m.size >= pr.at) pr.prune(m)
        }
        def appendPass(h: Long, msk: Long, r: Int): Unit = {
          val bk = bucketOf(h, nBuckets)
          val bb = builders(bk)
          bb.ensureRec()
          val arr = bb.recs
          var p = Platform.BYTE_ARRAY_OFFSET + bb.nRecs.toLong * recB
          Platform.putLong(arr, p, h); p += 8
          Platform.putLong(arr, p, msk); p += 8
          var j = 0
          while (j < kLK) { Platform.putLong(arr, p, m.stageLongs(j)); p += 8; j += 1 }
          j = 0
          while (j < kSK) {
            val s = m.stageStrs(j)
            val len = if (s == null) 0 else s.numBytes
            Platform.putInt(arr, p, len); p += 4
            if (len > 0) {
              bb.ensureStr(len)
              s.writeToMemory(bb.strs, Platform.BYTE_ARRAY_OFFSET + bb.strLen)
              bb.strLen += len
            }
            j += 1
          }
          val soff = bb.stateBlockOffset() // may grow bb.state: read it after
          k.writeSingletonCol(vecs, r, scratch, bb.state, soff)
          bb.nRecs += 1
          if (bb.bytes >= BuilderEmitBytes) flushed += emitBuilder(bk)
        }
        // one long key: probe in place, the NULL group through the staged
        // probe. Its own method, so the JIT compiles the loop on its own
        def oneLongRows(kv: ColumnVector, n: Int): Unit = {
          var r = 0
          while (r < n) {
            if (sel == null || sel.passes(r)) {
              if (kv.isNullAt(r)) {
                m.stageLongs(0) = 0L; m.stageMask = 1L
                val s = m.slotOf(mixNull(hashSeed))
                upd(r, s)
                updated()
              } else {
                val key = longKey(0, kv, r)
                if (pr == null || pr.keeps(key)) {
                  val s = m.slotOfLong(mix(hashSeed, key), key)
                  upd(r, s)
                  updated()
                }
              }
            }
            r += 1
          }
        }
        def processBatch(): Unit = {
          var i = 0
          while (i < ords.length) {
            val base = batch.column(ords(i))
            vecs(i) =
              if (guardOrds(i).isEmpty) base
              else new GuardedColumnVector(base, guardOrds(i).map(batch.column))
            i += 1
          }
          i = 0
          while (i < kOrds.length) {
            kvecs(i) = batch.column(kOrds(i))
            dictIds(i) = null
            if (dictKeys && theKinds(i) == KindStr) kvecs(i) match {
              case g: GraftColumnVector => g.store match {
                case d: GraftCacheSerializer.DictStore =>
                  val es = new Array[UTF8String](d.entries)
                  val eh = new Array[Long](d.entries)
                  var e = 0
                  while (e < d.entries) {
                    es(e) = UTF8String.fromBytes(d.dict, d.dictOffsets(e),
                      d.dictOffsets(e + 1) - d.dictOffsets(e))
                    eh(e) = hashStr(es(e))
                    e += 1
                  }
                  dictIds(i) = d.ids; dictStrs(i) = es; dictHash(i) = eh
                case _ =>
              }
              case _ =>
            }
            i += 1
          }
          if (sel != null) sel.reset(batch)
          val n = batch.numRows()
          def genericRow(r: Int): Unit = {
            var h = hashSeed
            var msk = 0L
            var j = 0
            while (j < kN) {
              val v = kvecs(j)
              if (v.isNullAt(r)) {
                msk |= 1L << j; h = mixNull(h)
                // canonicalize the staged slot — stale values from the
                // previous row would otherwise split null-key groups
                if (theKinds(j) == KindStr) m.stageStrs(theSub(j)) = null
                else m.stageLongs(theSub(j)) = 0L
              } else if (theKinds(j) == KindLong) {
                val k = longKey(j, v, r)
                m.stageLongs(theSub(j)) = k
                h = mix(h, k)
              } else if (dictIds(j) != null) {
                val id = dictIds(j)(r)
                m.stageStrs(theSub(j)) = dictStrs(j)(id)
                h = mix(h, dictHash(j)(id))
              } else {
                val s = v.getUTF8String(r)
                m.stageStrs(theSub(j)) = s
                h = mix(h, hashStr(s))
              }
              j += 1
            }
            m.stageMask = msk
            if (passThrough) appendPass(h, msk, r)
            else {
              upd(r, m.slotOf(h))
              updated()
            }
          }
          // pair-key fast path, engaged per batch: every string key must
          // be dictionary-served THIS batch (long keys pair by value)
          var pairOk = pairKeys && !pairDead && !passThrough &&
            (theKinds(0) != KindStr || dictIds(0) != null) &&
            (theKinds(1) != KindStr || dictIds(1) != null)
          if (pairOk) {
            // translate this batch's dict ids into the task-global id
            // space — one intern probe per distinct entry, not per row
            var j = 0
            while (j < kN) {
              if (theKinds(j) == KindStr) {
                val es = dictStrs(j); val eh = dictHash(j)
                val it = interns(theSub(j))
                var gm = gmaps(j)
                if (gm == null || gm.length < es.length) {
                  gm = new Array[Int](es.length); gmaps(j) = gm
                }
                var e = 0
                while (e < es.length) { gm(e) = it.gidOf(es(e), eh(e)); e += 1 }
                // every entry counts toward the budget, referenced by a
                // surviving row or not (see PackedAgg.PairInternCap)
                if (it.n > internCap) { pairDead = true; pairOk = false }
              }
              j += 1
            }
          }
          if (kN == 0 && sel == null && valProj == null && !k.hasObj) {
            // ungrouped: one slot, updated column-major (one sequential
            // pass per aggregate over its vector)
            m.stageMask = 0L
            k.updateColumnMajor(vecs, n, m.longs, m.doubles, m.flags, m.slotOf(hashSeed))
            checkCap(m)
          } else if (oneLong) oneLongRows(kvecs(0), n)
          else if (oneStr && dictIds(0) != null) {
            // one dictionary-served string key: each batch entry probes
            // the map once, later rows of the entry read its memoized slot
            // (slots move when the map grows, flushes or prunes — a new
            // generation clears the memo)
            val ids = dictIds(0); val es = dictStrs(0); val eh = dictHash(0)
            if (entrySlots.length < es.length) entrySlots = new Array[Int](es.length)
            java.util.Arrays.fill(entrySlots, 0, es.length, -1)
            var gen = m.generation
            val v0 = kvecs(0)
            var r = 0
            while (r < n) {
              if (sel == null || sel.passes(r)) {
                if (passThrough || v0.isNullAt(r)) genericRow(r)
                else {
                  if (m.generation != gen) {
                    java.util.Arrays.fill(entrySlots, 0, es.length, -1); gen = m.generation
                  }
                  val id = ids(r)
                  var s = entrySlots(id)
                  if (s < 0) {
                    m.stageStrs(0) = es(id); m.stageMask = 0L
                    s = m.slotOf(mix(hashSeed, eh(id)))
                    if (m.generation != gen) {
                      java.util.Arrays.fill(entrySlots, 0, es.length, -1); gen = m.generation
                    }
                    entrySlots(id) = s
                  }
                  upd(r, s)
                  updated()
                }
              }
              r += 1
            }
          } else if (pairOk) {
            pairs.sync(m.generation)
            val v0 = kvecs(0); val v1 = kvecs(1)
            var r = 0
            while (r < n) {
              if (sel != null && !sel.passes(r)) { r += 1 }
              else if (passThrough || v0.isNullAt(r) || v1.isNullAt(r)) {
                // genericRow's slotOf can grow the map and relocate every
                // slot; a later memo HIT would return a pre-grow index —
                // re-sync (one int compare when nothing moved)
                genericRow(r); pairs.sync(m.generation); r += 1
              } else {
                val a = if (theKinds(0) == KindStr) gmaps(0)(dictIds(0)(r)).toLong
                        else longKey(0, v0, r)
                val b = if (theKinds(1) == KindStr) gmaps(1)(dictIds(1)(r)).toLong
                        else longKey(1, v1, r)
                var s = pairs.find(a, b)
                if (s < 0) {
                  // first sighting this generation: full staged probe,
                  // then memoize the slot
                  var h = hashSeed
                  if (theKinds(0) == KindStr) {
                    val id = dictIds(0)(r)
                    m.stageStrs(theSub(0)) = dictStrs(0)(id)
                    h = mix(h, dictHash(0)(id))
                  } else { m.stageLongs(theSub(0)) = a; h = mix(h, a) }
                  if (theKinds(1) == KindStr) {
                    val id = dictIds(1)(r)
                    m.stageStrs(theSub(1)) = dictStrs(1)(id)
                    h = mix(h, dictHash(1)(id))
                  } else { m.stageLongs(theSub(1)) = b; h = mix(h, b) }
                  m.stageMask = 0L
                  s = m.slotOf(h)
                  pairs.sync(m.generation) // slotOf may have grown the map
                  pairs.put(a, b, s)
                }
                upd(r, s)
                updated()
                r += 1
              }
            }
          } else {
            var r = 0
            while (r < n) {
              if (sel != null && !sel.passes(r)) { r += 1 }
              else { genericRow(r); r += 1 }
            }
          }
          if (!passThrough && (m.size >= flushCap || m.poolLen >= PoolFlushBytes)) {
            flushed ++= emitMap()
          }
        }
        // lazy drain: interleave batch consumption with emission so the
        // shuffle writer absorbs each flush before the next batch loads
        new Iterator[Blob] {
          private var pending: Iterator[Blob] = Iterator.empty
          private var finished = false
          private def advance(): Unit = {
            while (!pending.hasNext && !finished) {
              if (batches.hasNext) {
                flushed.clear()
                batch = batches.next()
                processBatch()
                // snapshot: the buffer is cleared next round while this
                // iterator object may still be probed by the writer
                if (flushed.nonEmpty) pending = flushed.toArray.iterator
              } else {
                finished = true
                val tail =
                  if (builders == null) Iterator.empty
                  else (0 until nBuckets).iterator
                    .filter(bk => builders(bk).nRecs > 0).map(emitBuilder)
                pending = emitMap() ++ tail
              }
            }
          }
          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): Blob = {
            advance(); numOut.add(1); pending.next()
          }
        }
      }
    } else {
      child.execute().mapPartitions { rows =>
        val keyProj = UnsafeProjection.create(keyExprs, childOut)
        val valProj = UnsafeProjection.create(iExprs, childOut)
        val k = kernel(iExprs.map(_.dataType))
        val m = new MultiKeyMap(kLK, kSK, aL, aD, aF, hasObjs = k.hasObj)
        val pr = tn.map(new KeyPrune(_)).orNull
        val readLong: Array[InternalRow => Long] = keyTypes.zipWithIndex.map {
          case (ByteType, i) => (r: InternalRow) => r.getByte(i).toLong
          case (ShortType, i) => (r: InternalRow) => r.getShort(i).toLong
          case (IntegerType | DateType, i) => (r: InternalRow) => r.getInt(i).toLong
          case (_, i) => (r: InternalRow) => r.getLong(i)
        }.toArray
        // emissions since the last drain — bounded by one flush (see the
        // columnar branch note); drained lazily between input rows
        val flushed = ArrayBuffer.empty[Blob]
        // adaptive partial skip — row-path twin of the columnar branch
        var rowsSeen = 0L
        var passThrough = false
        var builders: Array[BucketBuilder] = null
        val scratch = k.newAcc() // singleton-block staging state
        def emitBuilder(bk: Int): Blob = {
          val (kb, sb) = builders(bk).emitBlobs()
          Blob(bk, kb, sb, null)
        }
        def emitMap(): Iterator[Blob] = {
          if (pr != null) pr.prune(m)
          val out = emitBlobs(k, m); m.reset(); out
        }
        def upd(v: InternalRow, s: Int): Unit = {
          k.updateRow(v, m.longs, m.doubles, m.flags, s)
          if (k.hasObj) k.updateRowObj(v, m.objAt(s, k))
        }
        // after a map update: the valve, the adaptive skip's check point,
        // the key prune, the flush cap
        def updated(): Unit = {
          checkCap(m)
          rowsSeen += 1
          if (rowsSeen == ptCheckRows && m.size >= rowsSeen * ptRatio) {
            flushed ++= emitMap()
            passThrough = true
            builders = Array.fill(nBuckets)(new BucketBuilder(recB, blockB))
          }
          if (pr != null && m.size >= pr.at) pr.prune(m)
          if (m.size >= flushCap || m.poolLen >= PoolFlushBytes) flushed ++= emitMap()
        }
        def appendPass(h: Long, msk: Long, v: InternalRow): Unit = {
          val bk = bucketOf(h, nBuckets)
          val bb = builders(bk)
          bb.ensureRec()
          val arr = bb.recs
          var p = Platform.BYTE_ARRAY_OFFSET + bb.nRecs.toLong * recB
          Platform.putLong(arr, p, h); p += 8
          Platform.putLong(arr, p, msk); p += 8
          var j = 0
          while (j < kLK) { Platform.putLong(arr, p, m.stageLongs(j)); p += 8; j += 1 }
          j = 0
          while (j < kSK) {
            val s = m.stageStrs(j)
            val len = if (s == null) 0 else s.numBytes
            Platform.putInt(arr, p, len); p += 4
            if (len > 0) {
              bb.ensureStr(len)
              s.writeToMemory(bb.strs, Platform.BYTE_ARRAY_OFFSET + bb.strLen)
              bb.strLen += len
            }
            j += 1
          }
          val soff = bb.stateBlockOffset() // may grow bb.state: read it after
          k.writeSingletonRow(v, scratch, bb.state, soff)
          bb.nRecs += 1
          if (bb.bytes >= BuilderEmitBytes) flushed += emitBuilder(bk)
        }
        def processRow(row: InternalRow): Unit = {
          val kr = keyProj(row)
          val v = valProj(row)
          if (oneLong && !kr.isNullAt(0)) {
            // one long key: probe in place (see the columnar path)
            val key = readLong(0)(kr)
            if (pr == null || pr.keeps(key)) {
              upd(v, m.slotOfLong(mix(hashSeed, key), key))
              updated()
            }
            return
          }
          var h = hashSeed
          var msk = 0L
          var j = 0
          while (j < kN) {
            if (kr.isNullAt(j)) {
              msk |= 1L << j; h = mixNull(h)
              // canonicalize (see the columnar path note)
              if (theKinds(j) == KindStr) m.stageStrs(theSub(j)) = null
              else m.stageLongs(theSub(j)) = 0L
            } else if (theKinds(j) == KindLong) {
              val k = readLong(j)(kr)
              m.stageLongs(theSub(j)) = k
              h = mix(h, k)
            } else {
              val s = kr.getUTF8String(j)
              m.stageStrs(theSub(j)) = s
              h = mix(h, hashStr(s))
            }
            j += 1
          }
          m.stageMask = msk
          if (passThrough) appendPass(h, msk, v)
          else {
            upd(v, m.slotOf(h))
            updated()
          }
        }
        new Iterator[Blob] {
          private var pending: Iterator[Blob] = Iterator.empty
          private var finished = false
          private def advance(): Unit = {
            while (!pending.hasNext && !finished) {
              if (rows.hasNext) {
                flushed.clear()
                // consume until an emission happens (rare: one per
                // flushGroups/PoolFlushBytes/BuilderEmitBytes) or input ends
                while (flushed.isEmpty && rows.hasNext) processRow(rows.next())
                // snapshot: the buffer is cleared next round while this
                // iterator object may still be probed by the writer
                if (flushed.nonEmpty) pending = flushed.toArray.iterator
              } else {
                finished = true
                val tail =
                  if (builders == null) Iterator.empty
                  else (0 until nBuckets).iterator
                    .filter(bk => builders(bk).nRecs > 0).map(emitBuilder)
                pending = emitMap() ++ tail
              }
            }
          }
          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): Blob = {
            advance(); numOut.add(1); pending.next()
          }
        }
      }
    }
  }
}

/** Per-partition top-K retention for [[PackedFinalAggExec]] emission —
  * the ORDER-BY-aggregate LIMIT sink (`GROUP BY k ORDER BY c DESC LIMIT
  * n`). Streaming every group through projection + the sink's per-row
  * copy costs ~10M copies on the groups≈rows shapes; a bounded heap of
  * `limit` UnsafeRow copies per partition keeps the compare (codegen'd
  * ordering) and drops the copies. Sound for the parent
  * TakeOrderedAndProject exactly as Spark's own per-partition
  * takeOrdered is: a row outside this partition's top-`limit` by the
  * total order can never reach the global top-`limit`.
  */
final case class PackedTopK(limit: Int, order: Seq[SortOrder])

/** Reduce stage: merge packed multi-key blobs into a dense map and
  * evaluate the replaced final aggregate's result expressions per group
  * (or, `bufferMode`, emit buffer rows for a replaced PartialMerge —
  * including the zero-aggregate pure-dedup form of the distinct rewrite).
  */
final case class PackedFinalAggExec(
    keyAttrs: Seq[Attribute],
    slots: Seq[DriverAgg.Slot],
    aggTypes: Seq[DataType],
    nL: Int, nD: Int, nF: Int,
    aggAttrs: Seq[Attribute],
    resultExprs: Seq[NamedExpression],
    output: Seq[Attribute],
    child: SparkPlan,
    bufferMode: Boolean = false,
    ansi: Boolean = false,
    // emission-time per-partition top-K retention (set by the
    // TakeOrderedAndProject arm of rules/PackedShuffleAgg)
    topK: Option[PackedTopK] = None) extends UnaryExecNode {
  import PackedAgg._

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  // resultExprs bind POSITIONALLY over (keys ++ agg values), not against
  // the child's packed-blob output
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(c: SparkPlan): PackedFinalAggExec =
    copy(child = c)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output.head)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val k = new SlotKernel(slots, Nil, aggTypes, nL, nD, nF, ansi)
    val (aL, aD, aF) = (nL, nD, nF)
    val kl = KeyLayout(keyAttrs.map(_.dataType))
    val evalSchema = keyAttrs ++ aggAttrs
    val exprs = resultExprs
    val buffered = bufferMode
    val theTopK = topK
    val theOutput = output
    child.execute().mapPartitions { rows =>
      val m = new MultiKeyMap(kl.nLK, kl.nSK, aL, aD, aF)
      rows.foreach(r => kl.mergeBlob(m, k, r.getBinary(1), r.getBinary(2), null))
      val proj = UnsafeProjection.create(exprs, evalSchema)
      // typed drain (SlotKernel.writeFinal): SpecificInternalRow +
      // primitive setters — a boxed GenericInternalRow path costs a box
      // per key/aggregate per group, tens of millions of objects on the
      // groups≈rows shapes this operator exists for
      val evalRow = new SpecificInternalRow(evalSchema.map(_.dataType))
      val writeKeys = kl.keyWriter(m, evalRow)
      // STREAM emission — the projection's output row is reused, as
      // Spark's own aggregate iterators do
      val emitted = m.slotIterator.map { s =>
        writeKeys(s)
        k.writeOutputs(m.longs, m.doubles, m.flags, s, evalRow, kl.n, buffered)
        numOut.add(1)
        proj(evalRow)
      }
      theTopK match {
        case None => emitted
        case Some(tk) =>
          // bounded selection by the parent sink's total order: compare
          // first (codegen'd), copy only on retention — the sink then
          // merges <= limit rows per partition instead of every group
          val ord: Ordering[InternalRow] =
            new LazilyGeneratedOrdering(tk.order, theOutput)
          val heap = new java.util.PriorityQueue[UnsafeRow](
            tk.limit + 1, ord.reverse)
          emitted.foreach { r =>
            if (heap.size < tk.limit) heap.add(r.copy())
            else if (ord.compare(r, heap.peek()) < 0) {
              heap.poll(); heap.add(r.copy())
            }
          }
          import scala.jdk.CollectionConverters._
          heap.iterator().asScala
      }
    }
  }
}
