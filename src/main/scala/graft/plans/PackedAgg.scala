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

/** Multi-key packed-payload shuffle aggregation — [[RadixAgg]] generalized
  * to composite grouping keys over the long-widenable domain PLUS strings
  * (the ClickBench `GROUP BY UserID, SearchPhrase[, minute]` class, and
  * the inner dedup exchange of `count(DISTINCT string)` rewrites).
  *
  * Why a second operator: in the groups≈rows regime Spark's
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
  * Scale posture: map memory is bounded by [[RadixAgg.FlushCap]] groups
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
  * slots; single int/long-keyed shapes keep the earlier [[RadixAgg]]
  * route.
  */
object PackedAgg {

  /** Interned-string pool bytes per map before a flush-and-reset. */
  val PoolFlushBytes: Int = 64 << 20

  /** Dict-id key fast path in the columnar partial (per-batch entry
    * hashing over dictionary-served string keys). Escape hatch:
    * GRAFT_NO_PACKED_DICT_KEYS=1.
    */
  @volatile var dictKeysEnabled: Boolean =
    !sys.env.get("GRAFT_NO_PACKED_DICT_KEYS").contains("1")

  /** 2-key pair→slot memo in the columnar partial: string keys served
    * from a batch dictionary are interned into a per-task global id
    * space (DictStore ids are per-batch, so cross-batch pair identity
    * needs the translation), long keys pair by value, and the composite
    * (key1, key2) memoizes its MultiKeyMap slot — repeat rows of a pair
    * skip the staged hash + byte-compare probe entirely (the reference
    * engine's dictionary-vector grouping resolves each distinct entry
    * once per vector, src/common/types/vector.cpp). Slots move on map
    * growth/reset, so memos are generation-checked. Escape hatch:
    * GRAFT_NO_PACKED_PAIR_KEYS=1.
    */
  @volatile var pairKeysEnabled: Boolean =
    !sys.env.get("GRAFT_NO_PACKED_PAIR_KEYS").contains("1")

  /** Pair-key intern budget per string key: past this many distinct
    * values the task has proved cross-batch reuse is low (every batch
    * brings mostly new entries — the q15-class high-cardinality regime),
    * so the pair path permanently yields to the generic loop. Bounds
    * intern memory AND the per-batch translation overhead. The count is
    * of every dictionary entry a batch translates, including entries no
    * surviving row references (e.g. under a selective folded filter), so
    * the budget can trip on values that are never grouped.
    */
  @volatile var pairInternCap: Int = 1 << 15

  /** CacheFilter fold into the packed partial's batch loop (per-batch
    * DictSelection instead of row-at-a-time filter + projection).
    * Escape hatch: GRAFT_NO_PACKED_SELECTION=1.
    */
  @volatile var selectionFoldEnabled: Boolean =
    !sys.env.get("GRAFT_NO_PACKED_SELECTION").contains("1")

  /** Test hook: when > 0, overrides the group-count flush threshold
    * ([[RadixAgg.FlushCap]]) of the packed AND radix partials so specs
    * can exercise the multi-blob merge path without 2M-group inputs.
    */
  @volatile var flushCapOverride: Int = 0

  private[plans] def flushCap: Int =
    if (flushCapOverride > 0) flushCapOverride else RadixAgg.FlushCap

  /** Adaptive partial skip — DuckDB's no-reduction bailout (reference:
    * radix_partitioned_hashtable.cpp abandons local aggregation when the
    * observed group/row ratio shows the hash phase reduces nothing).
    * After [[passThroughCheckRows]] rows, if the map holds more than
    * [[passThroughGroupRatio]] × rows groups, the partial emits what it
    * has and switches to PASS-THROUGH: each further row appends straight
    * to its bucket's blob builder as a one-row group fragment (the state
    * block is the singleton accumulator), skipping the map probe the
    * groups≈rows regime wastes. Blob merge is associative, so map-phase
    * and pass-through fragments coexist. GRAFT_NO_PACKED_PASSTHROUGH=1
    * disables (A/B hatch).
    */
  @volatile var passThroughEnabled: Boolean =
    !sys.env.get("GRAFT_NO_PACKED_PASSTHROUGH").contains("1")
  @volatile var passThroughCheckRows: Int = 1 << 16
  @volatile var passThroughGroupRatio: Double = 0.75

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
    RadixAgg.supportedKey(dt) || dt == StringType

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
      initCap: Int = 1 << 12) {
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
    private var pool = new Array[Byte](1 << 16)
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

    private def grow(): Unit = {
      generation += 1
      val oc = cap
      val oh = hashes; val ou = used; val olk = lkeys
      val oso = soffs; val osl = slens; val onm = nullMasks
      val oL = longs; val oD = doubles; val oF = flags
      cap <<= 1; mask = cap - 1
      hashes = new Array[Long](cap); used = new Array[Boolean](cap)
      lkeys = new Array[Long](cap * nLK)
      soffs = new Array[Int](cap * nSK); slens = new Array[Int](cap * nSK)
      nullMasks = new Array[Long](cap)
      longs = new Array[Long](cap * nL)
      doubles = new Array[Double](cap * nD)
      flags = new Array[Boolean](cap * nF)
      var i = 0
      while (i < oc) {
        if (ou(i)) {
          var j = (oh(i) & mask).toInt
          while (used(j)) j = (j + 1) & mask
          used(j) = true; hashes(j) = oh(i); nullMasks(j) = onm(i)
          System.arraycopy(olk, i * nLK, lkeys, j * nLK, nLK)
          System.arraycopy(oso, i * nSK, soffs, j * nSK, nSK)
          System.arraycopy(osl, i * nSK, slens, j * nSK, nSK)
          System.arraycopy(oL, i * nL, longs, j * nL, nL)
          System.arraycopy(oD, i * nD, doubles, j * nD, nD)
          System.arraycopy(oF, i * nF, flags, j * nF, nF)
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
      size = 0
      poolLen = 0
    }
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
  * n × (8·nL + 8·nD + nF) as in [[RadixAgg]].
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
    selection: Seq[Expression] = Nil) extends UnaryExecNode {
  import PackedAgg._

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): PackedPartialAggExec =
    copy(child = c)

  private val nKeys = keyExprs.length
  private val kinds: Array[Int] = keyTypes.map(kindOf).toArray
  // per-key index into the long-key block / string-key block
  private val subIdx: Array[Int] = {
    var li = 0; var si = 0
    kinds.map { k => if (k == KindLong) { li += 1; li - 1 } else { si += 1; si - 1 } }
  }
  private val nLK = kinds.count(_ == KindLong)
  private val nSK = kinds.count(_ == KindStr)
  private val blockBytes = 8 * nL + 8 * nD + nF
  private val recBytes = 16 + 8 * nLK + 4 * nSK

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

  /** All key exprs are direct columns and every agg input batch-resolves
    * ([[resolveIn]]) against `scan`, with batch-readable types
    * (int/long-width numerics, dates/timestamps, strings) — the batch
    * loop can run.
    */
  def columnarEligible(scan: SparkPlan): Boolean = {
    def direct(e: Expression): Boolean = e match {
      case a: Attribute => scan.output.exists(_.exprId == a.exprId)
      case _ => false
    }
    val typesOk = keyTypes.forall {
      case IntegerType | DateType | LongType | TimestampType | TimestampNTZType |
           StringType => true
      case _ => false
    }
    typesOk && keyExprs.forall(direct) &&
      aggInputs.forall(e => resolveIn(e, scan.output).isDefined)
  }

  /** Emit the map as packed bucket rows (one row per non-empty bucket). */
  private def emitRows(k: SlotKernel, m: MultiKeyMap): Iterator[InternalRow] = {
    val nBuckets = buckets
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
    val recPos = new Array[Int](nBuckets)   // next record write offset
    val bytePos = new Array[Int](nBuckets)  // next string-byte write offset
    val statePos = new Array[Int](nBuckets)
    var b = 0
    while (b < nBuckets) {
      if (counts(b) > 0) {
        keyArrs(b) = new Array[Byte](4 + counts(b) * recBytes + strBytes(b).toInt)
        stateArrs(b) = new Array[Byte](counts(b) * blockBytes)
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
    }
    val proj = UnsafeProjection.create(Array[DataType](IntegerType, BinaryType, BinaryType))
    val row = new GenericInternalRow(3)
    (0 until nBuckets).iterator.filter(b => keyArrs(b) != null).map { b =>
      row.update(0, b)
      row.update(1, keyArrs(b))
      row.update(2, stateArrs(b))
      proj(row).copy()
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val (kTypes, iExprs) = (keyTypes, aggInputs)
    val (aL, aD, aF) = (nL, nD, nF)
    val childOut = child.output
    def kernel(inTypes: Seq[DataType]) =
      new SlotKernel(slots, inTypes, Nil, nL, nD, nF, ansi)
    val theKinds = kinds
    val theSub = subIdx
    val (kLK, kSK, kN) = (nLK, nSK, nKeys)
    val (recB, blockB, nBuckets) = (recBytes, blockBytes, buckets)
    val ptEnabled = passThroughEnabled
    val ptCheckRows = passThroughCheckRows.toLong
    val ptRatio = passThroughGroupRatio
    if (columnarChild) {
      val kOrds = keyExprs.map { case a: Attribute =>
        childOut.indexWhere(_.exprId == a.exprId) }.toArray
      val resolvedIn = iExprs.map(e => resolveIn(e, childOut).getOrElse(
        throw new IllegalStateException(s"packed agg: unresolvable input $e")))
      val ords = resolvedIn.map { case (a, _) =>
        childOut.indexWhere(_.exprId == a.exprId) }.toArray
      val guardOrds: Array[Array[Int]] = resolvedIn.map { case (_, gs) =>
        gs.map(g => childOut.indexWhere(_.exprId == g.exprId)).toArray }.toArray
      // batch reads use the SOURCE column's type (a cast-to-double input
      // reads its int/long column and widens in the kernel's double read)
      val k = kernel(resolvedIn.map(_._1.dataType))
      val kLongRead: Array[Boolean] = kTypes.map {
        case LongType | TimestampType | TimestampNTZType => true
        case _ => false
      }.toArray
      val selPreds = if (selection.isEmpty) null else selection.toArray
      val dictKeys = PackedAgg.dictKeysEnabled
      val pairKeys = PackedAgg.pairKeysEnabled && kN == 2 && kSK >= 1 && dictKeys
      child.executeColumnar().mapPartitions { batches =>
        val m = new MultiKeyMap(kLK, kSK, aL, aD, aF)
        // pair-key fast path state (see PackedAgg.pairKeysEnabled):
        // per-task interns per STRING key position, slot memo, and
        // per-batch local-id → global-id translation arrays
        val interns = if (pairKeys) Array.fill(math.max(kSK, 1))(new StrIntern) else null
        val pairs = if (pairKeys) new PairSlotCache else null
        val gmaps = new Array[Array[Int]](kN)
        val internCap = PackedAgg.pairInternCap
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
        // so task heap stays at the documented FlushCap/PoolFlushBytes
        // bound instead of accumulating every flush for the partition
        val flushed = ArrayBuffer.empty[InternalRow]
        // adaptive partial skip (see PackedAgg.passThroughEnabled)
        var rowsSeen = 0L
        var passThrough = false
        var builders: Array[BucketBuilder] = null
        val scratch = k.newAcc() // singleton-block staging state
        val passProj = UnsafeProjection.create(Array[DataType](
          IntegerType, BinaryType, BinaryType))
        val passRow = new GenericInternalRow(3)
        def emitBuilder(bk: Int): InternalRow = {
          val (kb, sb) = builders(bk).emitBlobs()
          passRow.update(0, bk); passRow.update(1, kb); passRow.update(2, sb)
          passProj(passRow).copy()
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
        def processBatch(batch: org.apache.spark.sql.vectorized.ColumnarBatch): Unit = {
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
                val k = if (kLongRead(j)) v.getLong(r) else v.getInt(r).toLong
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
              val s = m.slotOf(h)
              k.updateCol(vecs, r, m.longs, m.doubles, m.flags, s)
              rowsSeen += 1
              if (ptEnabled && rowsSeen == ptCheckRows &&
                  m.size >= rowsSeen * ptRatio) {
                flushed ++= emitRows(k, m); m.reset()
                passThrough = true
                builders = Array.fill(nBuckets)(new BucketBuilder(recB, blockB))
              }
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
                // surviving row or not (see PackedAgg.pairInternCap)
                if (it.n > internCap) { pairDead = true; pairOk = false }
              }
              j += 1
            }
          }
          if (pairOk) {
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
                        else if (kLongRead(0)) v0.getLong(r) else v0.getInt(r).toLong
                val b = if (theKinds(1) == KindStr) gmaps(1)(dictIds(1)(r)).toLong
                        else if (kLongRead(1)) v1.getLong(r) else v1.getInt(r).toLong
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
                k.updateCol(vecs, r, m.longs, m.doubles, m.flags, s)
                rowsSeen += 1
                if (ptEnabled && rowsSeen == ptCheckRows &&
                    m.size >= rowsSeen * ptRatio) {
                  flushed ++= emitRows(k, m); m.reset()
                  passThrough = true
                  builders = Array.fill(nBuckets)(new BucketBuilder(recB, blockB))
                }
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
            flushed ++= emitRows(k, m); m.reset()
          }
        }
        // lazy drain: interleave batch consumption with emission so the
        // shuffle writer absorbs each flush before the next batch loads
        new Iterator[InternalRow] {
          private var pending: Iterator[InternalRow] = Iterator.empty
          private var finished = false
          private def advance(): Unit = {
            while (!pending.hasNext && !finished) {
              if (batches.hasNext) {
                flushed.clear()
                processBatch(batches.next())
                // snapshot: the buffer is cleared next round while this
                // iterator object may still be probed by the writer
                if (flushed.nonEmpty) pending = flushed.toArray.iterator
              } else {
                finished = true
                val tail =
                  if (builders == null) Iterator.empty
                  else (0 until nBuckets).iterator
                    .filter(bk => builders(bk).nRecs > 0).map(emitBuilder)
                pending = emitRows(k, m) ++ tail
              }
            }
          }
          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): InternalRow = {
            advance(); numOut.add(1); pending.next()
          }
        }
      }
    } else {
      child.execute().mapPartitions { rows =>
        val keyProj = UnsafeProjection.create(keyExprs, childOut)
        val valProj = UnsafeProjection.create(iExprs, childOut)
        val k = kernel(iExprs.map(_.dataType))
        val m = new MultiKeyMap(kLK, kSK, aL, aD, aF)
        val readLong: Array[InternalRow => Long] = kTypes.zipWithIndex.map {
          case (ByteType, i) => (r: InternalRow) => r.getByte(i).toLong
          case (ShortType, i) => (r: InternalRow) => r.getShort(i).toLong
          case (IntegerType | DateType, i) => (r: InternalRow) => r.getInt(i).toLong
          case (_, i) => (r: InternalRow) => r.getLong(i)
        }.toArray
        // emissions since the last drain — bounded by one flush (see the
        // columnar branch note); drained lazily between input rows
        val flushed = ArrayBuffer.empty[InternalRow]
        // adaptive partial skip — row-path twin of the columnar branch
        var rowsSeen = 0L
        var passThrough = false
        var builders: Array[BucketBuilder] = null
        val scratch = k.newAcc() // singleton-block staging state
        val passProj = UnsafeProjection.create(Array[DataType](
          IntegerType, BinaryType, BinaryType))
        val passRow = new GenericInternalRow(3)
        def emitBuilder(bk: Int): InternalRow = {
          val (kb, sb) = builders(bk).emitBlobs()
          passRow.update(0, bk); passRow.update(1, kb); passRow.update(2, sb)
          passProj(passRow).copy()
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
            val s = m.slotOf(h)
            k.updateRow(v, m.longs, m.doubles, m.flags, s)
            rowsSeen += 1
            if (ptEnabled && rowsSeen == ptCheckRows &&
                m.size >= rowsSeen * ptRatio) {
              flushed ++= emitRows(k, m); m.reset()
              passThrough = true
              builders = Array.fill(nBuckets)(new BucketBuilder(recB, blockB))
            }
            if (m.size >= flushCap || m.poolLen >= PoolFlushBytes) {
              flushed ++= emitRows(k, m); m.reset()
            }
          }
        }
        new Iterator[InternalRow] {
          private var pending: Iterator[InternalRow] = Iterator.empty
          private var finished = false
          private def advance(): Unit = {
            while (!pending.hasNext && !finished) {
              if (rows.hasNext) {
                flushed.clear()
                // consume until an emission happens (rare: one per
                // FlushCap/PoolFlushBytes/BuilderEmitBytes) or input ends
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
                pending = emitRows(k, m) ++ tail
              }
            }
          }
          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): InternalRow = {
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

  private val nKeys = keyAttrs.length
  private val kinds: Array[Int] = keyAttrs.map(a => kindOf(a.dataType)).toArray
  private val subIdx: Array[Int] = {
    var li = 0; var si = 0
    kinds.map { k => if (k == KindLong) { li += 1; li - 1 } else { si += 1; si - 1 } }
  }
  private val nLK = kinds.count(_ == KindLong)
  private val nSK = kinds.count(_ == KindStr)
  private val blockBytes = 8 * nL + 8 * nD + nF
  private val recBytes = 16 + 8 * nLK + 4 * nSK

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val k = new SlotKernel(slots, Nil, aggTypes, nL, nD, nF, ansi)
    val (aL, aD, aF) = (nL, nD, nF)
    val keyDts = keyAttrs.map(_.dataType).toArray
    val evalSchema = keyAttrs ++ aggAttrs
    val exprs = resultExprs
    val theKinds = kinds
    val theSub = subIdx
    val (kLK, kSK, kN) = (nLK, nSK, nKeys)
    val (rec, block) = (recBytes, blockBytes)
    val buffered = bufferMode
    val theTopK = topK
    val theOutput = output
    child.execute().mapPartitions { rows =>
      val m = new MultiKeyMap(kLK, kSK, aL, aD, aF)
      rows.foreach { r =>
        val keys = r.getBinary(1)
        val state = r.getBinary(2)
        val n = Platform.getInt(keys, Platform.BYTE_ARRAY_OFFSET)
        var cursor = 4 + n * rec
        var g = 0
        while (g < n) {
          var p = Platform.BYTE_ARRAY_OFFSET + 4 + g * rec
          val h = Platform.getLong(keys, p); p += 8
          val msk = Platform.getLong(keys, p); p += 8
          var j = 0
          while (j < kLK) { m.stageLongs(j) = Platform.getLong(keys, p); p += 8; j += 1 }
          j = 0
          while (j < kSK) {
            val len = Platform.getInt(keys, p); p += 4
            // a zero-length slice is "" — the mask decides null below
            m.stageStrs(j) = UTF8String.fromBytes(keys, cursor, len)
            cursor += len
            j += 1
          }
          // null components: clear the staged string (mask carries null-ness)
          j = 0
          while (j < kN) {
            if ((msk & (1L << j)) != 0 && theKinds(j) == KindStr)
              m.stageStrs(theSub(j)) = null
            j += 1
          }
          m.stageMask = msk
          val s = m.slotOf(h)
          k.mergeBlob(m.longs, m.doubles, m.flags, s, state,
            Platform.BYTE_ARRAY_OFFSET + g.toLong * block)
          g += 1
        }
      }
      val proj = UnsafeProjection.create(exprs, evalSchema)
      // typed drain (SlotKernel.writeFinal): SpecificInternalRow +
      // primitive setters — a boxed GenericInternalRow path costs a box
      // per key/aggregate per group, tens of millions of objects on the
      // groups≈rows shapes this operator exists for
      val evalRow = new SpecificInternalRow(evalSchema.map(_.dataType))
      // compiled per-key writers (slot → evalRow field j)
      val keyWriters: Array[Int => Unit] = Array.tabulate(kN) { j =>
        if (theKinds(j) == KindStr) {
          val si = theSub(j)
          (s: Int) =>
            if ((m.maskAt(s) & (1L << j)) != 0) evalRow.setNullAt(j)
            else evalRow.update(j,
              UTF8String.fromBytes(m.poolArray, m.strOffAt(s, si), m.strLenAt(s, si)))
        } else {
          val li = theSub(j)
          keyDts(j) match {
            case ByteType => (s: Int) =>
              if ((m.maskAt(s) & (1L << j)) != 0) evalRow.setNullAt(j)
              else evalRow.setByte(j, m.longKeyAt(s, li).toByte)
            case ShortType => (s: Int) =>
              if ((m.maskAt(s) & (1L << j)) != 0) evalRow.setNullAt(j)
              else evalRow.setShort(j, m.longKeyAt(s, li).toShort)
            case IntegerType | DateType => (s: Int) =>
              if ((m.maskAt(s) & (1L << j)) != 0) evalRow.setNullAt(j)
              else evalRow.setInt(j, m.longKeyAt(s, li).toInt)
            case _ => (s: Int) =>
              if ((m.maskAt(s) & (1L << j)) != 0) evalRow.setNullAt(j)
              else evalRow.setLong(j, m.longKeyAt(s, li))
          }
        }
      }
      // STREAM emission — the projection's output row is reused, as
      // Spark's own aggregate iterators do
      val emitted = m.slotIterator.map { s =>
        var j = 0
        while (j < kN) { keyWriters(j)(s); j += 1 }
        k.writeOutputs(m.longs, m.doubles, m.flags, s, evalRow, kN, buffered)
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
