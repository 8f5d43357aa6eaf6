package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Fused exact-distinct + HLL aggregate over two long columns — the
  * single-pass shape a native engine gives `count(DISTINCT a),
  * approx_count_distinct(b)` (the reference evaluates both aggregates
  * against one scan; Spark instead plans an Expand that doubles the
  * input, or two separate scans). One buffer holds an open-addressing
  * long set (exact side) and a 16384-register HLL (approx side); partials
  * merge, so the aggregation is two-phase and shuffle-light: the state
  * crossing the exchange is the distinct set + registers, never rows.
  *
  * Exact-side memory is O(distinct(a)) per task — same bound as any
  * exact distinct — so this is for keys whose cardinality fits an
  * executor (the usual count(DISTINCT key) contract).
  */
case class DistinctWithHll(
    exactChild: Expression,
    approxChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DistinctWithHll.Buffer] {

  import DistinctWithHll._

  override def children: Seq[Expression] = Seq(exactChild, approxChild)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_exact", LongType, nullable = false),
    StructField("approx", LongType, nullable = false),
    // raw registers, so a SECOND aggregation level can keep merging:
    // the bucketed two-phase shape (see HllUnion) re-aggregates
    // per-bucket partials instead of funneling one global merge
    // through a single reducer
    StructField("hll", BinaryType, nullable = false)))
  override def prettyName: String = "distinct_with_hll"

  override def createAggregationBuffer(): Buffer = new Buffer()

  // once bound, long-typed children are BoundReferences: read the column
  // with getLong instead of eval() — saves two Long boxings per input row
  // on the hot update path (the generic eval stays as the fallback for
  // computed children)
  @transient private lazy val exactOrd: Int = exactChild match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
      if b.dataType == LongType => b.ordinal
    case _ => -1
  }
  @transient private lazy val approxOrd: Int = approxChild match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
      if b.dataType == LongType => b.ordinal
    case _ => -1
  }

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    if (exactOrd >= 0) {
      if (!input.isNullAt(exactOrd)) buf.set.add(input.getLong(exactOrd))
    } else {
      val e = exactChild.eval(input)
      if (e != null) buf.set.add(e.asInstanceOf[Long])
    }
    if (approxOrd >= 0) {
      if (!input.isNullAt(approxOrd)) buf.hllAdd(input.getLong(approxOrd))
    } else {
      val a = approxChild.eval(input)
      if (a != null) buf.hllAdd(a.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    other.set.foreach(buf.set.add)
    var i = 0
    while (i < Registers) {
      if (other.hll(i) > buf.hll(i)) buf.hll(i) = other.hll(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Buffer): Any =
    new GenericInternalRow(Array[Any](buf.set.size.toLong, buf.hllEstimate,
      buf.hll.clone()))

  // bulk ByteBuffer (not a DataOutputStream loop): at warehouse scale a
  // partial set holds 10^5..10^6 keys and per-call stream overhead
  // dominates the exchange (measured on the sf1 evidence set)
  override def serialize(buf: Buffer): Array[Byte] = {
    val n = buf.set.size
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * n + Registers)
    bb.putInt(n)
    buf.set.foreach(v => bb.putLong(v))
    bb.put(buf.hll)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n0 = bb.getInt(0)
    // pre-size the set (load factor 1/2) — rebuilding a 10^5-key partial
    // through 8 incremental grows costs ~2x the inserts
    var cap = 1 << 10
    while (cap < 2 * n0) cap <<= 1
    val buf = new Buffer(cap)
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.set.add(bb.getLong()); i += 1 }
    bb.get(buf.hll)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): DistinctWithHll =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DistinctWithHll =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(exactChild = c(0), approxChild = c(1))
}

object DistinctWithHll {

  // 2^14 registers → rsd 1.04/√m ≈ 0.81%, the precision class of the
  // baseline engine's approx_count_distinct (DuckDB's HLL also runs
  // p=14/16384 registers) — the bench's two arms do equivalent-accuracy
  // work. 16 KB per group buffer; merges stay register-wise max.
  private[functions] val Registers = 16384
  private val RegisterBits = 14

  /** Open-addressing long set (no boxing; load factor 1/2). Empty slots
    * are 0L and the value 0 is carried by a sentinel flag — one array,
    * one cache line touched per probe (a separate occupied[] bitmap
    * doubles the memory traffic of every probe, measurable at 10^5+
    * updates per task).
    */
  final class LongSet(initialCapacity: Int = 1 << 10) {
    private var mask = initialCapacity - 1
    private var slots = new Array[Long](initialCapacity)
    private var n = 0
    private var hasZero = false

    def size: Int = n + (if (hasZero) 1 else 0)

    def add(v: Long): Unit = {
      if (v == 0L) { hasZero = true; return }
      var i = (scramble(v) & mask).toInt
      var s = slots(i)
      while (s != 0L) {
        if (s == v) return
        i = (i + 1) & mask
        s = slots(i)
      }
      slots(i) = v; n += 1
      if (n * 2 > mask) grow()
    }

    def foreach(f: Long => Unit): Unit = {
      if (hasZero) f(0L)
      var i = 0
      while (i < slots.length) { if (slots(i) != 0L) f(slots(i)); i += 1 }
    }

    private def grow(): Unit = {
      val oldSlots = slots
      mask = mask * 2 + 1
      slots = new Array[Long](mask + 1)
      var i = 0
      while (i < oldSlots.length) {
        val v = oldSlots(i)
        if (v != 0L) {
          var j = (scramble(v) & mask).toInt
          while (slots(j) != 0L) j = (j + 1) & mask
          slots(j) = v
        }
        i += 1
      }
    }
  }

  /** Open-addressing word→bits map (no boxing; OR-merge on an existing
    * key). Keys are 64-key word indexes of a distinct-key bitmap, values
    * the 64-bit occupancy of that word — the union of two key sets is a
    * per-word OR and the cardinality a popcount sweep. Same slot
    * discipline as [[LongSet]]: empty slots are key 0, the real word-0
    * entry rides a sentinel field.
    */
  final class LongBitsMap(initialCapacity: Int = 1 << 10) {
    private var mask = initialCapacity - 1
    private var keys = new Array[Long](initialCapacity)
    private var vals = new Array[Long](initialCapacity)
    private var n = 0
    private var zeroBits = 0L

    /** populated words (sizing serialized blobs) */
    def size: Int = n + (if (zeroBits != 0L) 1 else 0)

    def or(w: Long, bits: Long): Unit = {
      if (bits == 0L) return
      if (w == 0L) { zeroBits |= bits; return }
      var i = (scramble(w) & mask).toInt
      var k = keys(i)
      while (k != 0L) {
        if (k == w) { vals(i) |= bits; return }
        i = (i + 1) & mask
        k = keys(i)
      }
      keys(i) = w; vals(i) = bits; n += 1
      if (n * 2 > mask) grow()
    }

    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      if (zeroBits != 0L) f(0L, zeroBits)
      var i = 0
      while (i < keys.length) { if (keys(i) != 0L) f(keys(i), vals(i)); i += 1 }
    }

    def popCount: Long = {
      var c = java.lang.Long.bitCount(zeroBits).toLong
      var i = 0
      while (i < keys.length) {
        if (keys(i) != 0L) c += java.lang.Long.bitCount(vals(i))
        i += 1
      }
      c
    }

    private def grow(): Unit = {
      val oldKeys = keys
      val oldVals = vals
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1)
      vals = new Array[Long](mask + 1)
      var i = 0
      while (i < oldKeys.length) {
        val k = oldKeys(i)
        if (k != 0L) {
          var j = (scramble(k) & mask).toInt
          while (keys(j) != 0L) j = (j + 1) & mask
          keys(j) = k; vals(j) = oldVals(i)
        }
        i += 1
      }
    }
  }

  /** 64-bit finalizer (Murmur3 fmix64) — spreads sequential keys. Shared
    * with the columnar partial stage's bucket split (plans/FusedDistinct).
    */
  private[graft] def scramble(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  final class Buffer(initialSetCapacity: Int = 1 << 10) {
    val set = new LongSet(initialSetCapacity)
    val hll = new Array[Byte](Registers)

    def hllAdd(v: Long): Unit = {
      val h = scramble(v)
      val reg = (h >>> (64 - RegisterBits)).toInt
      val rank = (java.lang.Long.numberOfLeadingZeros((h << RegisterBits) | (1L << (RegisterBits - 1))) + 1)
        .toByte
      if (rank > hll(reg)) hll(reg) = rank
    }

    def hllEstimate: Long = estimateFrom(hll)
  }

  /** HLL estimate from a raw register array (shared by the fused
    * aggregate and the second-level [[HllUnion]] merge).
    */
  def estimateFrom(regs: Array[Byte]): Long = {
    val m = Registers.toDouble
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < Registers) {
      sum += math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / m)
    var e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m / zeros) // small-range correction
    math.round(e)
  }

  def distinct_with_hll(exact: Column, approx: Column): Column =
    bridge.column(DistinctWithHll(bridge.expression(exact), bridge.expression(approx))
      .toAggregateExpression(isDistinct = false))

  def hll_union(regs: Column): Column =
    bridge.column(HllUnion(bridge.expression(regs))
      .toAggregateExpression(isDistinct = false))

  def bit_chunk_count(blob: Column): Column =
    bridge.column(BitChunkCount(bridge.expression(blob))
      .toAggregateExpression(isDistinct = false))

  def hll_union_regs(regs: Column): Column =
    bridge.column(HllUnionRegs(bridge.expression(regs))
      .toAggregateExpression(isDistinct = false))

  /** Pruned-projection size above which the columnar bucketed shape wins
    * (16 bytes/row → 32 MB ≈ 2M input rows). Measured crossover
    * (PERF.md, an interleaved A/B of the two shapes): at 600k rows the single-level fused
    * aggregate already sits ON the raw update-loop floor and the bucket
    * merge's extra stage only adds dispatch (~59 vs 87 ms); at 6M rows
    * the per-row update and single-reducer merge dominate and the
    * columnar shape is 2.1× faster (194 vs 414 ms).
    */
  val ColumnarThresholdBytes: Long = 32L << 20

  /** `count(DISTINCT exact), approx_count_distinct(approx)` in one result
    * row, shape chosen by input size the way a native engine picks its
    * merge strategy by cardinality:
    *
    *  - small inputs → the single-pass fused TypedImperativeAggregate
    *    ([[DistinctWithHll]]) — 2 stages, no repartition;
    *  - large inputs (or `mode = "columnar"`) → the columnar partial
    *    stage ([[graft.plans.FusedDistinctPartialExec]]) splits each
    *    partition's exact set into `buckets` disjoint key-hash blobs,
    *    the merge level unions each bucket's blobs IN PARALLEL (disjoint
    *    slices — counts add), and a tiny top level sums counts and
    *    max-unions HLL registers.
    *
    * Identical results on every path (spec-pinned, HLL registers
    * byte-identical). `mode`: "auto" (stats-driven), "columnar", "fused".
    */
  def exactWithHll(df: org.apache.spark.sql.DataFrame, exactCol: String,
                   approxCol: String, buckets: Int = 32,
                   mode: String = "auto"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    val analyzed = df.queryExecution.analyzed
    def attr(n: String) = analyzed.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    // projecting to exactly the two key columns lets the planner push the
    // pruning into the cache/parquet scan (InMemoryScans folds a pure
    // attribute projection into the scan node)
    val pruned = org.apache.spark.sql.catalyst.plans.logical.Project(
      Seq(attr(exactCol), attr(approxCol)), analyzed)
    val shape = mode match {
      case "columnar" | "fused" | "driver" => mode
      case "auto" =>
        // size-based pick, like a native engine's cardinality-driven
        // merge strategy: small input → single-job partial + coordinator
        // merge (the per-task payload is the whole distinct set, fine at
        // this size); large input → columnar partial + parallel
        // disjoint-bucket merge (PERF.md sf1 A/B)
        if (bridge.ofRows(df.sparkSession, pruned)
          .queryExecution.optimizedPlan.stats.sizeInBytes > ColumnarThresholdBytes)
          "columnar"
        else "driver"
      case other => throw new IllegalArgumentException(
        s"exactWithHll mode must be auto|columnar|fused|driver, got $other")
    }
    if (shape == "driver") {
      bridge.ofRows(df.sparkSession, graft.plans.FusedDistinctDriver(
        graft.plans.FusedDistinctPartial(attr(exactCol), attr(approxCol), 1, pruned)))
    } else if (shape == "fused") {
      df.agg(distinct_with_hll(col(exactCol), col(approxCol)).as("d"))
        .select(col("d.n_exact").as("n_exact"), col("d.approx").as("approx"))
    } else {
      // bucket count: each map task opens one compressed stream per
      // reduce partition, and post-chunk-encoding the per-bucket merge
      // is a popcount OR — a handful of reducers absorbs huge key
      // domains, so cap by the session's shuffle width (same rationale
      // as rules/FuseSingleDistinct)
      // (caller's value stays an upper bound — buckets=1 is the pinned
      // degenerate case)
      val effBuckets = math.min(buckets, math.max(8,
        df.sparkSession.sessionState.conf.numShufflePartitions / 4))
      val partial = bridge.ofRows(df.sparkSession,
        graft.plans.FusedDistinctPartial(attr(exactCol), attr(approxCol), effBuckets, pruned))
      partial
        .repartition(effBuckets, col("bucket"))
        .groupBy(col("bucket"))
        .agg(bit_chunk_count(col("set_blob")).as("n"),
          hll_union_regs(col("hll")).as("hr"))
        .agg(sum(col("n")).cast("long").as("n_exact"),
          hll_union(col("hr")).as("approx"))
    }
  }
}

/** Distinct-key count over word-aligned bitmap-chunk blobs — the fused
  * single-distinct exchange format ([[graft.plans.SingleDistinctPartialExec]]
  * emits it): concatenated little-endian (wordIndex: Long, bits: Long)
  * pairs, 16 bytes per POPULATED 64-key word, so a dense surrogate-id
  * domain ships ~0.25 bytes per distinct key instead of 8 (measured 30x
  * off the sf1 exchange, PERF.md r7). The buffer ORs chunks per word
  * ([[DistinctWithHll.LongBitsMap]]); the union is bitwise and the final
  * count a popcount sweep — no per-key hashing on the merge path. Exact
  * because each reducer's buckets hold DISJOINT word slices (bucketing is
  * a deterministic function of the word index).
  */
case class BitChunkCount(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DistinctWithHll.LongBitsMap] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "bit_chunk_count"

  override def createAggregationBuffer(): DistinctWithHll.LongBitsMap =
    new DistinctWithHll.LongBitsMap(1 << 10)

  override def update(buf: DistinctWithHll.LongBitsMap, input: InternalRow)
      : DistinctWithHll.LongBitsMap = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[Array[Byte]]
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      val n = bytes.length / 16
      while (i < n) { buf.or(bb.getLong(16 * i), bb.getLong(16 * i + 8)); i += 1 }
    }
    buf
  }

  override def merge(buf: DistinctWithHll.LongBitsMap, other: DistinctWithHll.LongBitsMap)
      : DistinctWithHll.LongBitsMap = {
    other.foreachEntry(buf.or)
    buf
  }

  override def eval(buf: DistinctWithHll.LongBitsMap): Any = buf.popCount

  override def serialize(buf: DistinctWithHll.LongBitsMap): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 * buf.size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.foreachEntry { (w, bits) => bb.putLong(w); bb.putLong(bits) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DistinctWithHll.LongBitsMap = {
    val n = bytes.length / 16
    var cap = 1 << 10
    while (cap < 2 * n) cap <<= 1
    val buf = new DistinctWithHll.LongBitsMap(cap)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { buf.or(bb.getLong(16 * i), bb.getLong(16 * i + 8)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BitChunkCount =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitChunkCount =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** [[HllUnion]] with the RAW REGISTERS as output instead of the estimate —
  * the mid level of a two-level merge keeps registers mergeable; only the
  * top level evaluates. Null inputs (non-bucket-0 rows) are skipped.
  */
case class HllUnionRegs(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  import DistinctWithHll.Registers

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_union_regs"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Registers)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val other = v.asInstanceOf[Array[Byte]]
      require(other.length == Registers,
        s"hll_union_regs: expected $Registers registers, got ${other.length}")
      var i = 0
      while (i < Registers) {
        if (other(i) > buf(i)) buf(i) = other(i)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < Registers) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any = buf.clone()

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllUnionRegs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnionRegs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** Second-level HLL merge: max-combines raw register arrays produced by
  * [[DistinctWithHll]]'s `hll` output field and evaluates the estimate.
  * Register-wise max is associative and commutative, so bucketing rows by
  * any key, running the fused aggregate per bucket, and union-merging the
  * buckets yields BYTE-IDENTICAL registers to one global aggregation —
  * that equivalence is what lets the exact+approx pair scale: per-bucket
  * reducers each merge a DISJOINT slice of the key space in parallel
  * (exact counts add; registers union) instead of one reducer absorbing
  * every partial set.
  */
case class HllUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  import DistinctWithHll.Registers

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_union"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Registers)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) maxInto(buf, v.asInstanceOf[Array[Byte]])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    maxInto(buf, other)
    buf
  }

  private def maxInto(buf: Array[Byte], other: Array[Byte]): Unit = {
    require(other.length == Registers,
      s"hll_union: expected $Registers registers, got ${other.length}")
    var i = 0
    while (i < Registers) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
  }

  override def eval(buf: Array[Byte]): Any = DistinctWithHll.estimateFrom(buf)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllUnion =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnion =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}
