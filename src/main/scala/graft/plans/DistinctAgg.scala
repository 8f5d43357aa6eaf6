package graft.plans

import graft.functions.DistinctWithHll

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Partial stage of the auto-routed single-distinct fused aggregate
  * (rewritten in by [[graft.rules.FuseSingleDistinct]]).
  *
  * The shape it replaces is Spark's two-level plan for
  * `SELECT count(DISTINCT k), sum(v), count(*) FROM t`: a groupBy(k)
  * de-dup (one shuffled row PER DISTINCT KEY) followed by an ungrouped
  * final that funnels everything through one reducer. A native engine
  * instead keeps ONE hash set per scan thread and merges sets, never
  * rows (reference: the distinct-data path of
  * /root/reference/src/execution/operator/aggregate/
  * distinct_aggregate_data.cpp feeding
  * physical_ungrouped_aggregate.cpp). This operator is that shape on
  * Spark: each task builds an open-addressing long set for the distinct
  * key and accumulates the non-distinct ("piggyback") aggregates in the
  * same pass, then emits the set packed into `buckets` disjoint
  * key-hash blobs. Downstream (built by the rule as ordinary
  * Aggregates) a groupBy(bucket) merge unions blobs of a DISJOINT key
  * slice per reducer — embarrassingly parallel, exact counts add — and
  * a final one-row aggregate combines bucket counts with the piggyback
  * partials that ride each task's bucket-0 row.
  *
  * Scale contract: state crossing the exchange is O(distinct keys)
  * packed bytes + one piggyback row per task, never input rows; reduce
  * parallelism is `buckets`; per-task memory is the partition's
  * distinct-key set — the same bound any exact distinct pays.
  *
  * Piggyback kinds cover the aggregates a summary query mixes with a
  * distinct count: count(*) / count(col) / sum / avg / min / max over
  * int, long, float, double. Long sums follow the session's ANSI mode
  * (wrap by default, error when ansi — same policy as [[SlotKernel]]).
  */
final case class SingleDistinctPartial(
    distinct: Expression,
    piggyInputs: Seq[Expression],
    piggyKinds: Seq[String],
    buckets: Int,
    child: LogicalPlan,
    // stable across plan copies — see FusedDistinctPartial
    output: Seq[Attribute]) extends UnaryNode {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  require(piggyInputs.length == piggyKinds.length)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: LogicalPlan): SingleDistinctPartial =
    copy(child = c)
}

object SingleDistinctPartial extends org.apache.spark.internal.Logging {
  /** Per-partition rows, loop time and distinct keys of the columnar
    * partial, at DEBUG. */
  private[plans] def debug(msg: => String): Unit = logDebug(msg)

  val KindCountStar = "count_star"
  val KindCount = "count"
  val KindSum = "sum"
  val KindAvg = "avg"
  val KindMin = "min"
  val KindMax = "max"

  /** Accumulator column type for a piggyback slot: integral inputs
    * accumulate in long, fractional in double (exact widenings); counts
    * carry no value column.
    */
  def valueType(kind: String, in: DataType): Option[DataType] = kind match {
    case KindCountStar | KindCount => None
    case _ => Some(in match {
      case ByteType | ShortType | IntegerType | LongType | DateType => LongType
      case FloatType | DoubleType => DoubleType
      case other => throw new IllegalArgumentException(s"unsupported piggy type $other")
    })
  }

  def freshOutput(piggyKinds: Seq[String], piggyTypes: Seq[DataType]): Seq[Attribute] = {
    val base = Seq(
      AttributeReference("bucket", IntegerType, nullable = false)(),
      AttributeReference("set_blob", BinaryType, nullable = false)())
    val piggy = piggyKinds.zip(piggyTypes).zipWithIndex.flatMap { case ((k, t), i) =>
      valueType(k, t).map(vt =>
        AttributeReference(s"p${i}_v", vt, nullable = true)()).toSeq :+
        AttributeReference(s"p${i}_c", LongType, nullable = true)()
    }
    base ++ piggy
  }
}

final case class SingleDistinctPartialExec(
    distinct: Expression,
    piggyInputs: Seq[Expression],
    piggyKinds: Seq[String],
    buckets: Int,
    output: Seq[Attribute],
    child: SparkPlan,
    columnarChild: Boolean) extends UnaryExecNode {
  import SingleDistinctPartial._

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): SingleDistinctPartialExec =
    copy(child = c)

  /** Columnar fast path needs every read to be a direct column of the
    * batch schema (count(*) reads nothing).
    */
  def columnarEligible(c: SparkPlan): Boolean = {
    def direct(e: Expression): Boolean = e match {
      case a: Attribute => c.output.exists(_.exprId == a.exprId)
      case _ => false
    }
    val keyTypeOk = distinct.dataType match {
      case IntegerType | LongType | DateType => true
      case _ => false
    }
    keyTypeOk && direct(distinct) && piggyInputs.zip(piggyKinds).forall {
      case (_, KindCountStar) => true
      case (e, KindCount) => direct(e) // any type: null-check read only
      case (e, _) => direct(e) && (e.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | DateType => true
        case _ => false
      })
    }
  }

  // ---- per-partition accumulator ---------------------------------------

  private val nP = piggyKinds.length

  // per-row dispatch on dense int codes, not string kinds (the update
  // loop runs once per input row per slot)
  private val AddK = 0; private val MinK = 1; private val MaxK = 2; private val CntK = 3
  private def code(kind: String): Int = kind match {
    case KindSum | KindAvg => AddK
    case KindMin => MinK
    case KindMax => MaxK
    case _ => CntK
  }

  private final class Acc(ansi: Boolean, codes: Array[Int]) {
    // Dense-domain fast path + radix overflow (reference: the
    // stats-gated PERFECT_HASH_GROUP_BY in
    // physical_perfecthash_aggregate.cpp, and
    // radix_partitioned_hashtable.cpp for the spill shape). Warehouse
    // distinct keys are overwhelmingly dense surrogate ids: a 2M-bit
    // window (256 KB, cache-resident) anchored at the first key's
    // aligned base covers them with a 2ns set-bit per row — no hashing
    // until emit. Keys outside the window take per-bucket radix sets,
    // each small enough to stay cache-resident; fully adversarial key
    // distributions degrade to exactly the radix behavior.
    val BmBits = 1 << 21
    var bmBase: Long = 0L
    var bitmap: Array[Long] = _
    val sets = Array.fill(buckets)(new DistinctWithHll.LongSet(1 << 10))
    def add(v: Long): Unit = {
      if (bitmap == null) {
        bitmap = new Array[Long](BmBits >> 6)
        bmBase = v & ~((BmBits: Long) - 1L)
      }
      val off = v - bmBase
      if (off >= 0 && off < BmBits)
        bitmap((off >> 6).toInt) |= 1L << off
      else
        sets(math.floorMod(DistinctWithHll.scramble(v), buckets).toInt).add(v)
    }
    val sumL = new Array[Long](nP)
    val sumD = new Array[Double](nP)
    val cnt = new Array[Long](nP)
    // min/max start empty; cnt==0 means "no value yet"
    def addLong(i: Int, v: Long): Unit = {
      codes(i) match {
        case 0 => sumL(i) = if (ansi) Math.addExact(sumL(i), v) else sumL(i) + v
        case 1 => if (cnt(i) == 0 || v < sumL(i)) sumL(i) = v
        case 2 => if (cnt(i) == 0 || v > sumL(i)) sumL(i) = v
        case _ =>
      }
      cnt(i) += 1
    }
    def addDouble(i: Int, v: Double): Unit = {
      codes(i) match {
        case 0 => sumD(i) += v
        case 1 => if (cnt(i) == 0 || v < sumD(i)) sumD(i) = v
        case 2 => if (cnt(i) == 0 || v > sumD(i)) sumD(i) = v
        case _ =>
      }
      cnt(i) += 1
    }
  }

  /** Pack the set into per-bucket blobs; piggyback partials ride the
    * bucket-0 row (always emitted), other buckets only when non-empty.
    *
    * Blob format: word-aligned bitmap chunks — concatenated little-endian
    * (wordIndex: Long, bits: Long) pairs, 16 bytes per POPULATED 64-key
    * word ([[graft.functions.BitChunkCount]] decodes). A dense
    * surrogate-id domain ships ~0.25 bytes per distinct key instead of
    * the 8 a key-list blob paid — measured 30x off the sf1 exchange and
    * its write time with it (PERF.md r7). Bucketing is by WORD index
    * (scrambled), so all 64 keys of a word share a bucket and the
    * reducers' slices stay disjoint — exact counts still add.
    */
  /** Walk every populated 64-key word (bitmap window + overflow sets). */
  private def foreachWord(acc: Acc, overflow: DistinctWithHll.LongBitsMap)(
      f: (Long, Long) => Unit): Unit = {
    val bm = acc.bitmap
    if (bm != null) {
      val baseWord = acc.bmBase >> 6
      var w = 0
      while (w < bm.length) {
        if (bm(w) != 0L) f(baseWord + w, bm(w))
        w += 1
      }
    }
    overflow.foreachEntry(f)
  }

  private def emit(acc: Acc, piggyValueTypes: Seq[Option[DataType]])
      : Iterator[InternalRow] = {
    // overflow keys (outside the bitmap window) regrouped into word→bits
    // form; windows are word-aligned, so overflow words never collide
    // with window words (and a collision would still be exact — the
    // merge ORs per word)
    val overflow = new DistinctWithHll.LongBitsMap(1 << 10)
    var ob = 0
    while (ob < buckets) {
      acc.sets(ob).foreach(v => overflow.or(v >> 6, 1L << (v & 63L).toInt))
      ob += 1
    }
    def bucketOf(word: Long): Int =
      math.floorMod(DistinctWithHll.scramble(word), buckets).toInt
    val counts = new Array[Int](buckets) // populated words per bucket
    foreachWord(acc, overflow)((w, _) => counts(bucketOf(w)) += 1)
    val blobs = counts.map(n => java.nio.ByteBuffer.allocate(16 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN))
    foreachWord(acc, overflow) { (w, bits) =>
      val bb = blobs(bucketOf(w)); bb.putLong(w); bb.putLong(bits)
    }
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    val row = new GenericInternalRow(output.length)
    (0 until buckets).iterator
      .filter(b => b == 0 || counts(b) > 0).map { b =>
      row.update(0, b)
      row.update(1, blobs(b).array())
      var col = 2
      var i = 0
      while (i < nP) {
        piggyValueTypes(i).foreach { vt =>
          if (b == 0 && acc.cnt(i) > 0)
            row.update(col, if (vt == LongType) acc.sumL(i) else acc.sumD(i))
          else row.update(col, null)
          col += 1
        }
        row.update(col, if (b == 0) acc.cnt(i) else null)
        col += 1
        i += 1
      }
      proj(row).copy()
    }
  }

  private def toLong(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
    case other => throw new IllegalStateException(s"non-integral distinct key $other")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val ansi = SQLConf.get.ansiEnabled
    val kinds = piggyKinds
    val inTypes = piggyInputs.map(_.dataType)
    val valueTypes = kinds.zip(inTypes).map { case (k, t) => valueType(k, t) }
    val nPiggy = nP
    val kindCodes = piggyKinds.map(code).toArray
    if (columnarChild) {
      val dOrd = distinct match {
        case a: Attribute => child.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      }
      require(dOrd >= 0, "columnar single-distinct requires a direct key column")
      val dLong = distinct.dataType == LongType
      val pOrds = piggyInputs.zip(kinds).map {
        case (_, KindCountStar) => -1
        case (a: Attribute, _) => child.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      }
      child.executeColumnar().mapPartitions { batches =>
        val t0 = System.nanoTime()
        var nRows = 0L
        var nBatches = 0
        val acc = new Acc(ansi, kindCodes)
        batches.foreach { batch =>
          val vd = batch.column(dOrd)
          val n = batch.numRows()
          nRows += n
          nBatches += 1
          // bulk-extract to a flat primitive array when null-free: the
          // per-row virtual accessor costs more than the copy, and the
          // flat loop JITs to straight-line code (measured ~4x on the
          // sf1 partial — PERF.md r7)
          if (!vd.hasNull) {
            if (dLong) {
              val a = vd.getLongs(0, n)
              var r = 0
              while (r < n) { acc.add(a(r)); r += 1 }
            } else {
              val a = vd.getInts(0, n)
              var r = 0
              while (r < n) { acc.add(a(r).toLong); r += 1 }
            }
          } else {
            var r = 0
            while (r < n) {
              if (!vd.isNullAt(r))
                acc.add(if (dLong) vd.getLong(r) else vd.getInt(r).toLong)
              r += 1
            }
          }
          var i = 0
          while (i < nPiggy) {
            val ord = pOrds(i)
            if (ord < 0) { // count(*): every batch row counts
              acc.cnt(i) += n
            } else if (kinds(i) == KindCount) { // null-check only, any type
              val vc = batch.column(ord)
              var j = 0
              while (j < n) { if (!vc.isNullAt(j)) acc.cnt(i) += 1; j += 1 }
            } else {
              val vc = batch.column(ord)
              val dense = !vc.hasNull // bulk-extract, as for the key
              inTypes(i) match {
                case LongType =>
                  if (dense) {
                    val a = vc.getLongs(0, n)
                    var j = 0
                    while (j < n) { acc.addLong(i, a(j)); j += 1 }
                  } else {
                    var j = 0
                    while (j < n) {
                      if (!vc.isNullAt(j)) acc.addLong(i, vc.getLong(j)); j += 1
                    }
                  }
                case IntegerType | DateType =>
                  if (dense) {
                    val a = vc.getInts(0, n)
                    var j = 0
                    while (j < n) { acc.addLong(i, a(j).toLong); j += 1 }
                  } else {
                    var j = 0
                    while (j < n) {
                      if (!vc.isNullAt(j)) acc.addLong(i, vc.getInt(j).toLong); j += 1
                    }
                  }
                case DoubleType =>
                  if (dense) {
                    val a = vc.getDoubles(0, n)
                    var j = 0
                    while (j < n) { acc.addDouble(i, a(j)); j += 1 }
                  } else {
                    var j = 0
                    while (j < n) {
                      if (!vc.isNullAt(j)) acc.addDouble(i, vc.getDouble(j)); j += 1
                    }
                  }
                case FloatType =>
                  if (dense) {
                    val a = vc.getFloats(0, n)
                    var j = 0
                    while (j < n) { acc.addDouble(i, a(j).toDouble); j += 1 }
                  } else {
                    var j = 0
                    while (j < n) {
                      if (!vc.isNullAt(j)) acc.addDouble(i, vc.getFloat(j).toDouble); j += 1
                    }
                  }
                case ShortType =>
                  var j = 0
                  while (j < n) {
                    if (!vc.isNullAt(j)) acc.addLong(i, vc.getShort(j).toLong); j += 1
                  }
                case ByteType =>
                  var j = 0
                  while (j < n) {
                    if (!vc.isNullAt(j)) acc.addLong(i, vc.getByte(j).toLong); j += 1
                  }
                case other => throw new IllegalStateException(s"piggy type $other")
              }
            }
            i += 1
          }
        }
        SingleDistinctPartial.debug(f"rows=$nRows batches=$nBatches " +
          f"loopMs=${(System.nanoTime() - t0) / 1e6}%.1f " +
          f"keys=${acc.sets.map(_.size).sum +
            (if (acc.bitmap == null) 0L
             else acc.bitmap.map(java.lang.Long.bitCount(_).toLong).sum)}")
        emit(acc, valueTypes)
      }
    } else {
      val boundD = BindReferences.bindReference(distinct, child.output)
      val boundP = piggyInputs.map(BindReferences.bindReference(_, child.output))
      // direct-column primitive reads where possible; boxed eval fallback
      val pOrd = boundP.map {
        case b: BoundReference => b.ordinal
        case _ => -1
      }
      child.execute().mapPartitions { rows =>
        val acc = new Acc(ansi, kindCodes)
        val dOrd = boundD match {
          case b: BoundReference if b.dataType == LongType || b.dataType == IntegerType =>
            b.ordinal
          case _ => -1
        }
        val dLong = boundD.dataType == LongType
        rows.foreach { r =>
          if (dOrd >= 0) {
            if (!r.isNullAt(dOrd))
              acc.add(if (dLong) r.getLong(dOrd) else r.getInt(dOrd).toLong)
          } else {
            val d = boundD.eval(r)
            if (d != null) acc.add(toLong(d))
          }
          var i = 0
          while (i < nPiggy) {
            if (kinds(i) == KindCountStar) acc.cnt(i) += 1
            else if (kinds(i) == KindCount) { // null-check only, any type
              if (pOrd(i) >= 0) { if (!r.isNullAt(pOrd(i))) acc.cnt(i) += 1 }
              else if (boundP(i).eval(r) != null) acc.cnt(i) += 1
            } else if (pOrd(i) >= 0) {
              val o = pOrd(i)
              if (!r.isNullAt(o)) inTypes(i) match {
                case LongType => acc.addLong(i, r.getLong(o))
                case IntegerType | DateType => acc.addLong(i, r.getInt(o).toLong)
                case DoubleType => acc.addDouble(i, r.getDouble(o))
                case FloatType => acc.addDouble(i, r.getFloat(o).toDouble)
                case ShortType => acc.addLong(i, r.getShort(o).toLong)
                case ByteType => acc.addLong(i, r.getByte(o).toLong)
                case other => throw new IllegalStateException(s"piggy type $other")
              }
            } else {
              val v = boundP(i).eval(r)
              if (v != null) inTypes(i) match {
                case FloatType | DoubleType =>
                  acc.addDouble(i, v match {
                    case d: java.lang.Double => d.doubleValue()
                    case f: java.lang.Float => f.doubleValue()
                  })
                case _ => acc.addLong(i, toLong(v))
              }
            }
            i += 1
          }
        }
        emit(acc, valueTypes)
      }
    }
  }
}

/** Driver-side final combine for the fused single-distinct shape: the
  * bucket-merge level emits at most `buckets` rows (per-bucket exact
  * counts + piggyback partials), so the last ungrouped aggregate is a
  * bounded O(buckets) fold — running it as a SinglePartition exchange +
  * final-aggregate stage buys nothing and costs a whole extra query
  * stage (the dominant term at bench scale: each AQE stage is its own
  * job). This node folds the rows on the coordinator instead — the same
  * contract as [[FusedDistinctDriverExec]]; the payload is one row per
  * bucket, NOT per task or per key, so it stays bounded at any data
  * scale.
  *
  * `mergeOps(i)` ("sum" | "min" | "max") merges child column i across
  * rows with null-skip, null-init semantics (a column never seen
  * non-null stays null — Coalesce in `resultExprs` supplies the
  * zero-for-count defaults). `resultExprs` are evaluated over the single
  * combined row and carry the original aggregate's output exprIds.
  */
final case class SingleDistinctCombine(
    mergeOps: Seq[String],
    resultExprs: Seq[Expression],
    // output attrs are a FIELD, not derived from resultExprs: optimizer
    // rules (RemoveRedundantAliases) strip aliases from expressions of
    // nodes they don't recognize as schema-defining, so names/exprIds
    // must survive independently; the exec pairs them positionally
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  require(resultExprs.length == output.length)
  override def maxRows: Option[Long] = Some(1)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the exec reads every child column positionally
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): SingleDistinctCombine =
    copy(child = c)
}

final case class SingleDistinctCombineExec(
    mergeOps: Seq[String],
    resultExprs: Seq[Expression],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: SparkPlan): SingleDistinctCombineExec =
    copy(child = c)

  private def finalRows(): Array[InternalRow] = {
    val types = child.output.map(_.dataType)
    val nCols = types.length
    val ansi = SQLConf.get.ansiEnabled
    val ops = mergeOps.toArray
    val tt = types.toArray
    // per-task pre-fold keeps the driver payload at one row per task
    val partials: Array[Array[Any]] =
      sparkContext.runJob(child.execute(), (it: Iterator[InternalRow]) => {
        val acc = new Array[Any](nCols)
        it.foreach { r =>
          var i = 0
          while (i < nCols) {
            if (!r.isNullAt(i)) {
              val v: Any = tt(i) match {
                case LongType => r.getLong(i)
                case DoubleType => r.getDouble(i)
                case IntegerType => r.getInt(i).toLong
                case other => throw new IllegalStateException(s"combine type $other")
              }
              acc(i) = mergeValue(acc(i), v, ops(i), ansi)
            }
            i += 1
          }
        }
        acc
      })
    val acc = new Array[Any](nCols)
    partials.foreach { p =>
      var i = 0
      while (i < nCols) {
        if (p(i) != null) acc(i) = mergeValue(acc(i), p(i), ops(i), ansi)
        i += 1
      }
    }
    val row = new GenericInternalRow(acc)
    val bound = resultExprs.map(BindReferences.bindReference(_, child.output))
    val proj = UnsafeProjection.create(bound)
    Array(proj(row).copy())
  }

  private def mergeValue(prev: Any, v: Any, op: String, ansi: Boolean): Any =
    if (prev == null) v
    else (prev, v) match {
      case (a: java.lang.Long, b: java.lang.Long) => op match {
        case "min" => math.min(a, b): java.lang.Long
        case "max" => math.max(a, b): java.lang.Long
        case _ =>
          (if (ansi) Math.addExact(a.longValue(), b.longValue())
           else a + b): java.lang.Long
      }
      case (a: java.lang.Double, b: java.lang.Double) => op match {
        case "min" => math.min(a, b): java.lang.Double
        case "max" => math.max(a, b): java.lang.Double
        case _ => (a + b): java.lang.Double
      }
      case other => throw new IllegalStateException(s"combine pair $other")
    }

  override def executeCollect(): Array[InternalRow] = finalRows()

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(finalRows().toIndexedSeq, 1)
}
