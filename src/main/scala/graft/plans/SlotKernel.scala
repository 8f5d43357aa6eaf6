package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import DriverAgg.{Acc, GroupCardinalityExceeded}

/** The one implementation of every aggregate slot kind — row update,
  * column update, state-to-state merge, blob decode+merge, singleton
  * block write, typed final write — shared by the driver-finalized
  * ([[DriverGroupAggExec]]), radix ([[RadixAgg]]), packed ([[PackedAgg]])
  * and sorted-run ([[SortedRunAggExec]]) aggregates. The reference runs
  * every aggregate through one table the same way
  * (radix_partitioned_hashtable.cpp); MorphStore (VLDB'20) argues for one
  * processing model rather than one operator variant per format.
  *
  * State shape: flat `longs`/`doubles`/`flags` arrays and a GROUP index
  * `g` — group g's slots live at `g·nL`, `g·nD`, `g·nF`. That is the
  * layout of [[RadixAgg.LongKeyMap]], [[PackedAgg.MultiKeyMap]], the
  * driver aggregate's dense bucket arrays and an [[DriverAgg.Acc]]
  * (g = 0), so every route calls the same code. Slots compile once to an
  * opcode program; the per-row loops are an int switch over primitive
  * arrays — no per-row allocation, no ADT or dataType dispatch.
  *
  * Blob block layout (one group, native byte order):
  * longs[nL] ++ doubles[nD] ++ flags[nF].
  *
  * Object-state slots ([[DriverAgg.CountDistinctSlot]],
  * [[DriverAgg.MinMaxSSlot]]) have no fixed-width encoding: they update
  * and merge only through an [[DriverAgg.Acc]] (`*Obj` / `mergeAcc`), so
  * only the driver-finalized route accepts them ([[DriverAgg.Layout.flat]]).
  *
  * Moment slots replicate Spark's CentralMomentAgg / Covariance
  * recurrences operation for operation, so a single-partition result is
  * bit-identical to the stock plan.
  *
  * @param inTypes read type of each slot input (updates only — a partial
  *                that never finalizes, or a final that never updates,
  *                passes only the side it uses)
  * @param aggTypes catalyst type of each aggregate's output (finals only)
  */
final class SlotKernel(
    slots: Seq[DriverAgg.Slot],
    inTypes: Seq[DataType],
    aggTypes: Seq[DataType],
    val nL: Int, val nD: Int, val nF: Int,
    ansi: Boolean,
    nS: Int = 0, nO: Int = 0) extends Serializable {
  import SlotKernel._

  private val n = slots.length
  private val op = new Array[Int](n)
  // a1: the slot's primary state index (long for count/sumL/minmaxL,
  // double for sumD/avg/minmaxD/var/covar, set/obj for object slots);
  // a2: its flag index, or the count's long index for avg/var/covar
  private val a1 = new Array[Int](n)
  private val a2 = new Array[Int](n)
  private val in1 = new Array[Int](n)
  private val in2 = new Array[Int](n)
  private val checked = new Array[Array[Int]](n)
  // var: statistic kind 0..3; covar: 1 = sample
  private val kind = new Array[Int](n)
  private val nullOnDiv = new Array[Boolean](n)
  private val inTc: Array[Int] = inTypes.map(typeCode).toArray
  private val outTc: Array[Int] = aggTypes.map(typeCode).toArray

  slots.zipWithIndex.foreach { case (s, j) =>
    import DriverAgg._
    s match {
      case CountSlot(li, Seq()) => op(j) = Count0; a1(j) = li
      case CountSlot(li, Seq(in)) => op(j) = Count1; a1(j) = li; in1(j) = in
      case CountSlot(li, ins) => op(j) = CountN; a1(j) = li; checked(j) = ins.toArray
      case SumLSlot(li, fi, in) => op(j) = SumL; a1(j) = li; a2(j) = fi; in1(j) = in
      case SumDSlot(di, fi, in) => op(j) = SumD; a1(j) = di; a2(j) = fi; in1(j) = in
      case AvgSlot(di, li, in) => op(j) = Avg; a1(j) = di; a2(j) = li; in1(j) = in
      case MinMaxLSlot(li, fi, in, isMin) =>
        op(j) = if (isMin) MinL else MaxL; a1(j) = li; a2(j) = fi; in1(j) = in
      case MinMaxDSlot(di, fi, in, isMin) =>
        op(j) = if (isMin) MinD else MaxD; a1(j) = di; a2(j) = fi; in1(j) = in
      case VarSlot(di, li, in, k, nod) =>
        op(j) = Var; a1(j) = di; a2(j) = li; in1(j) = in; kind(j) = k; nullOnDiv(j) = nod
      case CovarSlot(di, li, inX, inY, samp, nod) =>
        op(j) = Covar; a1(j) = di; a2(j) = li; in1(j) = inX; in2(j) = inY
        kind(j) = if (samp) 1 else 0; nullOnDiv(j) = nod
      case CountDistinctSlot(si, in) => op(j) = Distinct; a1(j) = si; in1(j) = in
      case MinMaxSSlot(oi, in, isMin) =>
        op(j) = if (isMin) MinS else MaxS; a1(j) = oi; in1(j) = in
    }
  }

  /** True when some slot keeps object state (driver-only). */
  val hasObj: Boolean = op.exists(_ >= Distinct)

  /** Bytes of one group's state block. */
  val blockBytes: Int = 8 * nL + 8 * nD + nF

  def newAcc(): Acc = new Acc(new Array[Long](nL), new Array[Double](nD),
    new Array[Boolean](nF),
    if (nS == 0) null else Array.fill(nS)(new java.util.HashSet[AnyRef]()),
    if (nO == 0) null else new Array[AnyRef](nO))

  // ---- primitive reads -------------------------------------------------
  private def rowL(v: InternalRow, i: Int): Long = (inTc(i): @annotation.switch) match {
    case 0 => v.getByte(i).toLong
    case 1 => v.getShort(i).toLong
    case 2 => v.getInt(i).toLong
    case _ => v.getLong(i)
  }
  private def rowD(v: InternalRow, i: Int): Double = (inTc(i): @annotation.switch) match {
    case 0 => v.getByte(i).toDouble
    case 1 => v.getShort(i).toDouble
    case 2 => v.getInt(i).toDouble
    case 3 => v.getLong(i).toDouble
    case 4 => v.getFloat(i).toDouble
    case _ => v.getDouble(i)
  }
  private def colL(c: ColumnVector, i: Int, r: Int): Long = (inTc(i): @annotation.switch) match {
    case 0 => c.getByte(r).toLong
    case 1 => c.getShort(r).toLong
    case 2 => c.getInt(r).toLong
    case _ => c.getLong(r)
  }
  private def colD(c: ColumnVector, i: Int, r: Int): Double = (inTc(i): @annotation.switch) match {
    case 0 => c.getByte(r).toDouble
    case 1 => c.getShort(r).toDouble
    case 2 => c.getInt(r).toDouble
    case 3 => c.getLong(r).toDouble
    case 4 => c.getFloat(r).toDouble
    case _ => c.getDouble(r)
  }

  // ---- state transitions (shared by update and merge) -------------------
  /** Long addition per the session's eval mode: ANSI throws on overflow,
    * default Spark wraps — diverging would make a rewritten query fail
    * where the un-rewritten plan returns a (wrapped) result.
    */
  private def addL(a: Long, b: Long): Long = if (ansi) Math.addExact(a, b) else a + b

  private def sumL(L: Array[Long], o: Int, F: Array[Boolean], fo: Int, x: Long): Unit = {
    L(o) = if (F(fo)) addL(L(o), x) else x
    F(fo) = true
  }
  private def sumD(D: Array[Double], o: Int, F: Array[Boolean], fo: Int, x: Double): Unit = {
    D(o) += x
    F(fo) = true
  }
  private def minMaxL(L: Array[Long], o: Int, F: Array[Boolean], fo: Int, x: Long,
      isMin: Boolean): Unit = {
    if (!F(fo) || (if (isMin) x < L(o) else x > L(o))) L(o) = x
    F(fo) = true
  }
  private def minMaxD(D: Array[Double], o: Int, F: Array[Boolean], fo: Int, x: Double,
      isMin: Boolean): Unit = {
    val c = java.lang.Double.compare(x, D(o))
    if (!F(fo) || (if (isMin) c < 0 else c > 0)) D(o) = x
    F(fo) = true
  }
  /** CentralMomentAgg.updateExpressions: (n, avg, m2) at L(lo), D(o), D(o+1). */
  private def varUpdate(L: Array[Long], lo: Int, D: Array[Double], o: Int, x: Double): Unit = {
    val n = L(lo) + 1
    L(lo) = n
    val delta = x - D(o)
    val deltaN = delta / n
    D(o) += deltaN
    D(o + 1) += delta * (delta - deltaN)
  }
  /** CentralMomentAgg.mergeExpressions. */
  private def varMerge(L: Array[Long], lo: Int, D: Array[Double], o: Int,
      n2: Long, avg2: Double, m22: Double): Unit = {
    val n1 = L(lo)
    val n = n1 + n2
    val delta = avg2 - D(o)
    val deltaN = if (n == 0) 0.0 else delta / n
    D(o) += deltaN * n2
    D(o + 1) += m22 + delta * deltaN * n1 * n2
    L(lo) = n
  }
  /** Covariance.updateExpressions: (n, xAvg, yAvg, ck). */
  private def covarUpdate(L: Array[Long], lo: Int, D: Array[Double], o: Int,
      x: Double, y: Double): Unit = {
    val n = L(lo) + 1
    L(lo) = n
    val dx = x - D(o)
    val dy = y - D(o + 1)
    D(o) += dx / n
    D(o + 1) += dy / n
    D(o + 2) += dx * (y - D(o + 1))
  }
  /** Covariance.mergeExpressions. */
  private def covarMerge(L: Array[Long], lo: Int, D: Array[Double], o: Int,
      n2: Long, xAvg2: Double, yAvg2: Double, ck2: Double): Unit = {
    val n1 = L(lo)
    val n = n1 + n2
    val dx = xAvg2 - D(o)
    val dxN = if (n == 0) 0.0 else dx / n
    val dy = yAvg2 - D(o + 1)
    val dyN = if (n == 0) 0.0 else dy / n
    D(o) += dxN * n2
    D(o + 1) += dyN * n2
    D(o + 2) += ck2 + dx * dyN * n1 * n2
    L(lo) = n
  }

  // ---- updates -----------------------------------------------------------
  /** Fold one value-projection row (input i at ordinal i) into group g. */
  def updateRow(v: InternalRow, L: Array[Long], D: Array[Double], F: Array[Boolean],
      g: Int): Unit = {
    val lb = g * nL; val db = g * nD; val fb = g * nF
    var j = 0
    while (j < n) {
      val in = in1(j)
      (op(j): @annotation.switch) match {
        case Count0 => L(lb + a1(j)) += 1
        case Count1 => if (!v.isNullAt(in)) L(lb + a1(j)) += 1
        case CountN =>
          val ck = checked(j)
          var ok = true; var i = 0
          while (i < ck.length) { if (v.isNullAt(ck(i))) ok = false; i += 1 }
          if (ok) L(lb + a1(j)) += 1
        case SumL => if (!v.isNullAt(in)) sumL(L, lb + a1(j), F, fb + a2(j), rowL(v, in))
        case SumD => if (!v.isNullAt(in)) sumD(D, db + a1(j), F, fb + a2(j), rowD(v, in))
        case Avg => if (!v.isNullAt(in)) {
          D(db + a1(j)) += rowD(v, in); L(lb + a2(j)) += 1
        }
        case MinL | MaxL => if (!v.isNullAt(in))
          minMaxL(L, lb + a1(j), F, fb + a2(j), rowL(v, in), op(j) == MinL)
        case MinD | MaxD => if (!v.isNullAt(in))
          minMaxD(D, db + a1(j), F, fb + a2(j), rowD(v, in), op(j) == MinD)
        case Var => if (!v.isNullAt(in)) varUpdate(L, lb + a2(j), D, db + a1(j), rowD(v, in))
        case Covar => if (!v.isNullAt(in) && !v.isNullAt(in2(j)))
          covarUpdate(L, lb + a2(j), D, db + a1(j), rowD(v, in), rowD(v, in2(j)))
        case _ => // object slot: updateRowObj
      }
      j += 1
    }
  }

  /** Fold row r of the batch (input i read from `vecs(i)`) into group g. */
  def updateCol(vecs: Array[ColumnVector], r: Int, L: Array[Long], D: Array[Double],
      F: Array[Boolean], g: Int): Unit = updateColSlots(vecs, r, L, D, F, g, 0, n)

  /** [[updateCol]] over slots [from, until). */
  private def updateColSlots(vecs: Array[ColumnVector], r: Int, L: Array[Long],
      D: Array[Double], F: Array[Boolean], g: Int, from: Int, until: Int): Unit = {
    val lb = g * nL; val db = g * nD; val fb = g * nF
    var j = from
    while (j < until) {
      val in = in1(j)
      (op(j): @annotation.switch) match {
        case Count0 => L(lb + a1(j)) += 1
        case Count1 => if (!vecs(in).isNullAt(r)) L(lb + a1(j)) += 1
        case CountN =>
          val ck = checked(j)
          var ok = true; var i = 0
          while (i < ck.length) { if (vecs(ck(i)).isNullAt(r)) ok = false; i += 1 }
          if (ok) L(lb + a1(j)) += 1
        case SumL =>
          val c = vecs(in)
          if (!c.isNullAt(r)) sumL(L, lb + a1(j), F, fb + a2(j), colL(c, in, r))
        case SumD =>
          val c = vecs(in)
          if (!c.isNullAt(r)) sumD(D, db + a1(j), F, fb + a2(j), colD(c, in, r))
        case Avg =>
          val c = vecs(in)
          if (!c.isNullAt(r)) { D(db + a1(j)) += colD(c, in, r); L(lb + a2(j)) += 1 }
        case MinL | MaxL =>
          val c = vecs(in)
          if (!c.isNullAt(r))
            minMaxL(L, lb + a1(j), F, fb + a2(j), colL(c, in, r), op(j) == MinL)
        case MinD | MaxD =>
          val c = vecs(in)
          if (!c.isNullAt(r))
            minMaxD(D, db + a1(j), F, fb + a2(j), colD(c, in, r), op(j) == MinD)
        case Var =>
          val c = vecs(in)
          if (!c.isNullAt(r)) varUpdate(L, lb + a2(j), D, db + a1(j), colD(c, in, r))
        case Covar =>
          val cx = vecs(in); val cy = vecs(in2(j))
          if (!cx.isNullAt(r) && !cy.isNullAt(r))
            covarUpdate(L, lb + a2(j), D, db + a1(j), colD(cx, in, r), colD(cy, in2(j), r))
        case _ => // object slot: updateColObj
      }
      j += 1
    }
  }

  /** Fold the first `rows` rows of a batch into group g COLUMN-MAJOR: one
    * sequential pass per slot over its vector (the ungrouped driver
    * aggregate's loop). Count and sum/avg over null-free vectors skip
    * the per-row null check; sum/avg seed the local from the state, so
    * the floating-point addition sequence equals the row-major loop's.
    * Slots are disjoint, so per-slot order gives the row-major result.
    */
  def updateColumnMajor(vecs: Array[ColumnVector], rows: Int, L: Array[Long],
      D: Array[Double], F: Array[Boolean], g: Int): Unit = {
    val lb = g * nL; val db = g * nD; val fb = g * nF
    var j = 0
    while (j < n) {
      val in = in1(j)
      val vec = if (op(j) == Count0 || op(j) == CountN) null else vecs(in)
      val noNulls = vec == null || !vec.hasNull
      (op(j): @annotation.switch) match {
        case Count0 => L(lb + a1(j)) += rows
        case Count1 if noNulls => L(lb + a1(j)) += rows
        case SumD | Avg =>
          var s = D(db + a1(j)); var c = 0L; var i = 0
          while (i < rows) {
            if (noNulls || !vec.isNullAt(i)) { s += colD(vec, in, i); c += 1 }
            i += 1
          }
          D(db + a1(j)) = s
          if (op(j) == Avg) L(lb + a2(j)) += c
          else if (c > 0) F(fb + a2(j)) = true
        case _ =>
          var i = 0
          while (i < rows) { updateColSlots(vecs, i, L, D, F, g, j, j + 1); i += 1 }
      }
      j += 1
    }
  }

  /** Object-slot half of [[updateRow]] (driver route only). */
  def updateRowObj(v: InternalRow, acc: Acc): Unit = {
    var j = 0
    while (j < n) {
      val in = in1(j)
      if (op(j) >= Distinct && !v.isNullAt(in)) {
        if (op(j) == Distinct) addDistinct(acc, j, boxed(v.get(in, inTypes(in)), in))
        else minMaxS(acc, j, v.getUTF8String(in))
      }
      j += 1
    }
  }

  /** Object-slot half of [[updateCol]] (driver route only). */
  def updateColObj(vecs: Array[ColumnVector], r: Int, acc: Acc): Unit = {
    var j = 0
    while (j < n) {
      val in = in1(j)
      if (op(j) >= Distinct && !vecs(in).isNullAt(r)) {
        val c = vecs(in)
        if (op(j) == Distinct) addDistinct(acc, j, inTypes(in) match {
          case StringType => c.getUTF8String(r).clone()
          case FloatType | DoubleType => java.lang.Double.valueOf(colD(c, in, r))
          case BooleanType => java.lang.Boolean.valueOf(c.getBoolean(r))
          case _ => java.lang.Long.valueOf(colL(c, in, r))
        })
        else minMaxS(acc, j, c.getUTF8String(r))
      }
      j += 1
    }
  }

  /** Hashable, buffer-detached distinct-set member: integral values box
    * as Long, floating as Double, strings clone off the row buffer.
    */
  private def boxed(x: Any, in: Int): AnyRef = inTypes(in) match {
    case ByteType | ShortType | IntegerType | DateType | LongType | TimestampType |
         TimestampNTZType => java.lang.Long.valueOf(x.asInstanceOf[Number].longValue())
    case FloatType | DoubleType => java.lang.Double.valueOf(x.asInstanceOf[Number].doubleValue())
    case BooleanType => x.asInstanceOf[java.lang.Boolean]
    case StringType => x.asInstanceOf[UTF8String].clone()
    case other => throw new UnsupportedOperationException(
      s"driver agg: distinct over ${other.simpleString} unsupported")
  }

  /** Distinct sets are driver-merged task state: capped like the group
    * table, so a false ndv bound aborts into the fallback plan instead of
    * exhausting the driver.
    */
  private def addDistinct(acc: Acc, j: Int, x: AnyRef): Unit = {
    val s = acc.sets(a1(j))
    if (s.add(x) && s.size() > DriverAgg.maxDistinctCap) throw new GroupCardinalityExceeded(
      s"driver agg: distinct set exceeded ${DriverAgg.maxDistinctCap} in one group — " +
        "child is not low-cardinality; falling back")
  }

  private def minMaxS(acc: Acc, j: Int, x: UTF8String): Unit = {
    val cur = acc.objs(a1(j)).asInstanceOf[UTF8String]
    if (cur == null || (if (op(j) == MinS) x.compareTo(cur) < 0 else x.compareTo(cur) > 0))
      acc.objs(a1(j)) = x.clone()
  }

  // ---- merges --------------------------------------------------------------
  /** Merge group g2 of (L2, D2, F2) into group g of (L, D, F). */
  def mergeState(L: Array[Long], D: Array[Double], F: Array[Boolean], g: Int,
      L2: Array[Long], D2: Array[Double], F2: Array[Boolean], g2: Int): Unit = {
    val lb = g * nL; val db = g * nD; val fb = g * nF
    val lb2 = g2 * nL; val db2 = g2 * nD; val fb2 = g2 * nF
    var j = 0
    while (j < n) {
      val x = a1(j); val y = a2(j)
      (op(j): @annotation.switch) match {
        case Count0 | Count1 | CountN => L(lb + x) += L2(lb2 + x)
        case SumL => if (F2(fb2 + y)) sumL(L, lb + x, F, fb + y, L2(lb2 + x))
        case SumD => if (F2(fb2 + y)) sumD(D, db + x, F, fb + y, D2(db2 + x))
        case Avg => D(db + x) += D2(db2 + x); L(lb + y) += L2(lb2 + y)
        case MinL | MaxL =>
          if (F2(fb2 + y)) minMaxL(L, lb + x, F, fb + y, L2(lb2 + x), op(j) == MinL)
        case MinD | MaxD =>
          if (F2(fb2 + y)) minMaxD(D, db + x, F, fb + y, D2(db2 + x), op(j) == MinD)
        case Var => varMerge(L, lb + y, D, db + x, L2(lb2 + y), D2(db2 + x), D2(db2 + x + 1))
        case Covar => covarMerge(L, lb + y, D, db + x, L2(lb2 + y),
          D2(db2 + x), D2(db2 + x + 1), D2(db2 + x + 2))
        case _ => // object slot: mergeAcc
      }
      j += 1
    }
  }

  /** Merge the state block at Platform offset `off` of `blob` into group g. */
  def mergeBlob(L: Array[Long], D: Array[Double], F: Array[Boolean], g: Int,
      blob: Array[Byte], off: Long): Unit = {
    val lb = g * nL; val db = g * nD; val fb = g * nF
    val dOff = off + 8 * nL
    val fOff = dOff + 8 * nD
    def bl(i: Int): Long = Platform.getLong(blob, off + 8 * i)
    def bd(i: Int): Double = Platform.getDouble(blob, dOff + 8 * i)
    def bf(i: Int): Boolean = Platform.getByte(blob, fOff + i) != 0
    var j = 0
    while (j < n) {
      val x = a1(j); val y = a2(j)
      (op(j): @annotation.switch) match {
        case Count0 | Count1 | CountN => L(lb + x) += bl(x)
        case SumL => if (bf(y)) sumL(L, lb + x, F, fb + y, bl(x))
        case SumD => if (bf(y)) sumD(D, db + x, F, fb + y, bd(x))
        case Avg => D(db + x) += bd(x); L(lb + y) += bl(y)
        case MinL | MaxL => if (bf(y)) minMaxL(L, lb + x, F, fb + y, bl(x), op(j) == MinL)
        case MinD | MaxD => if (bf(y)) minMaxD(D, db + x, F, fb + y, bd(x), op(j) == MinD)
        case Var => varMerge(L, lb + y, D, db + x, bl(y), bd(x), bd(x + 1))
        case Covar => covarMerge(L, lb + y, D, db + x, bl(y), bd(x), bd(x + 1), bd(x + 2))
        case _ => throw new IllegalStateException("object slot has no blob encoding")
      }
      j += 1
    }
  }

  /** Merge one partial accumulator into another (driver route). */
  def mergeAcc(cur: Acc, in: Acc): Unit = {
    mergeState(cur.longs, cur.doubles, cur.flags, 0, in.longs, in.doubles, in.flags, 0)
    if (hasObj) {
      var j = 0
      while (j < n) {
        if (op(j) == Distinct) {
          val s = cur.sets(a1(j))
          s.addAll(in.sets(a1(j)))
          if (s.size() > DriverAgg.maxDistinctCap) throw new GroupCardinalityExceeded(
            s"driver agg: merged distinct set exceeded ${DriverAgg.maxDistinctCap} — " +
              "child is not low-cardinality; falling back")
        } else if (op(j) > Distinct) {
          val x = in.objs(a1(j)).asInstanceOf[UTF8String]
          if (x != null) minMaxS(cur, j, x)
        }
        j += 1
      }
    }
  }

  // ---- blob encoding -------------------------------------------------------
  /** Encode group g as a state block at Platform offset `off` of `blob`. */
  def writeBlock(L: Array[Long], D: Array[Double], F: Array[Boolean], g: Int,
      blob: Array[Byte], off: Long): Unit = {
    var p = off
    var i = 0
    while (i < nL) { Platform.putLong(blob, p, L(g * nL + i)); p += 8; i += 1 }
    i = 0
    while (i < nD) { Platform.putDouble(blob, p, D(g * nD + i)); p += 8; i += 1 }
    i = 0
    while (i < nF) { Platform.putByte(blob, p, if (F(g * nF + i)) 1 else 0); p += 1; i += 1 }
  }

  /** Singleton block: the state one fresh group holds after folding row r
    * (pass-through fragments). `scratch` is caller-owned, reused per row.
    */
  def writeSingletonCol(vecs: Array[ColumnVector], r: Int, scratch: Acc,
      blob: Array[Byte], off: Long): Unit = {
    clear(scratch)
    updateCol(vecs, r, scratch.longs, scratch.doubles, scratch.flags, 0)
    writeBlock(scratch.longs, scratch.doubles, scratch.flags, 0, blob, off)
  }

  /** Row twin of [[writeSingletonCol]]. */
  def writeSingletonRow(v: InternalRow, scratch: Acc, blob: Array[Byte], off: Long): Unit = {
    clear(scratch)
    updateRow(v, scratch.longs, scratch.doubles, scratch.flags, 0)
    writeBlock(scratch.longs, scratch.doubles, scratch.flags, 0, blob, off)
  }

  private def clear(a: Acc): Unit = {
    java.util.Arrays.fill(a.longs, 0L)
    java.util.Arrays.fill(a.doubles, 0.0)
    java.util.Arrays.fill(a.flags, false)
  }

  // ---- finals --------------------------------------------------------------
  /** Write aggregate j's final value for group g into `row` at `pos` via
    * primitive setters — allocation-free with a SpecificInternalRow
    * target. Catalyst value of `aggTypes(j)`; NULL per the aggregate's
    * empty-input semantics.
    */
  def writeFinal(j: Int, L: Array[Long], D: Array[Double], F: Array[Boolean], g: Int,
      row: InternalRow, pos: Int): Unit = {
    val x = a1(j); val y = a2(j)
    val lb = g * nL; val db = g * nD; val fb = g * nF
    (op(j): @annotation.switch) match {
      case Count0 | Count1 | CountN => row.setLong(pos, L(lb + x))
      case SumL => if (F(fb + y)) row.setLong(pos, L(lb + x)) else row.setNullAt(pos)
      case SumD | MinD | MaxD =>
        if (!F(fb + y)) row.setNullAt(pos)
        else if (outTc(j) == 4) row.setFloat(pos, D(db + x).toFloat)
        else row.setDouble(pos, D(db + x))
      case Avg =>
        val c = L(lb + y)
        if (c > 0) row.setDouble(pos, D(db + x) / c) else row.setNullAt(pos)
      case MinL | MaxL =>
        if (!F(fb + y)) row.setNullAt(pos)
        else (outTc(j): @annotation.switch) match {
          case 0 => row.setByte(pos, L(lb + x).toByte)
          case 1 => row.setShort(pos, L(lb + x).toShort)
          case 2 => row.setInt(pos, L(lb + x).toInt)
          case _ => row.setLong(pos, L(lb + x))
        }
      case Var =>
        // CentralMomentAgg.evaluateExpression: n==0 → NULL; sample
        // statistics at n==1 → NULL (nullOnDivideByZero) or NaN (legacy)
        val cnt = L(lb + y)
        val m2 = D(db + x + 1)
        if (cnt == 0) row.setNullAt(pos)
        else if (cnt == 1 && (kind(j) == 0 || kind(j) == 2)) {
          if (nullOnDiv(j)) row.setNullAt(pos) else row.setDouble(pos, Double.NaN)
        } else row.setDouble(pos, (kind(j): @annotation.switch) match {
          case 0 => math.sqrt(m2 / (cnt - 1))
          case 1 => math.sqrt(m2 / cnt)
          case 2 => m2 / (cnt - 1)
          case _ => m2 / cnt
        })
      case Covar =>
        val cnt = L(lb + y)
        val ck = D(db + x + 2)
        if (cnt == 0) row.setNullAt(pos)
        else if (kind(j) == 0) row.setDouble(pos, ck / cnt)
        else if (cnt == 1) {
          if (nullOnDiv(j)) row.setNullAt(pos) else row.setDouble(pos, Double.NaN)
        } else row.setDouble(pos, ck / (cnt - 1))
      case _ => throw new IllegalStateException("object slot final needs an Acc")
    }
  }

  /** Every aggregate's output for group g from `pos0` on. `buffer`: emit
    * Spark's aggregation BUFFER instead of the final value (a replaced
    * PartialMerge) — avg widens to its [sum, count] pair; count/sum/min/max
    * buffers equal their finals.
    */
  def writeOutputs(L: Array[Long], D: Array[Double], F: Array[Boolean], g: Int,
      row: InternalRow, pos0: Int, buffer: Boolean = false): Unit = {
    var c = pos0
    var j = 0
    while (j < n) {
      if (buffer && op(j) == Avg) {
        row.setDouble(c, D(g * nD + a1(j)))
        row.setLong(c + 1, L(g * nL + a2(j)))
        c += 2
      } else {
        writeFinal(j, L, D, F, g, row, c)
        c += 1
      }
      j += 1
    }
  }

  /** Every aggregate's final value from an accumulator, object slots
    * included (driver route).
    */
  def writeFinals(acc: Acc, row: InternalRow, pos0: Int): Unit = {
    var j = 0
    while (j < n) {
      val pos = pos0 + j
      if (op(j) == Distinct) row.setLong(pos, acc.sets(a1(j)).size().toLong)
      else if (op(j) > Distinct) {
        val s = acc.objs(a1(j))
        if (s == null) row.setNullAt(pos) else row.update(pos, s)
      } else writeFinal(j, acc.longs, acc.doubles, acc.flags, 0, row, pos)
      j += 1
    }
  }

  // ---- sort keys (sorted-run fused top-n) -------------------------------
  /** Whether aggregate j's sort key compares as a double (else a long). */
  def sortKeyIsDouble(j: Int): Boolean = op(j) match {
    case SumD | MinD | MaxD | Avg => true
    case _ => false
  }

  /** Aggregate j's final value of group g as a sort key: NULL flag into
    * `nul(d)`, the value into `lv(d)` or `dv(d)` (-0.0 normalized to 0.0,
    * as UnsafeRow stores it). Only [[SlotKernel.sortable]] slots.
    */
  def sortKey(j: Int, L: Array[Long], D: Array[Double], F: Array[Boolean], g: Int,
      lv: Array[Long], dv: Array[Double], nul: Array[Boolean], d: Int): Unit = {
    val x = a1(j); val y = a2(j)
    (op(j): @annotation.switch) match {
      case Count0 | Count1 | CountN => nul(d) = false; lv(d) = L(g * nL + x)
      case SumL | MinL | MaxL => nul(d) = !F(g * nF + y); lv(d) = L(g * nL + x)
      case SumD | MinD | MaxD =>
        nul(d) = !F(g * nF + y)
        val v = D(g * nD + x)
        dv(d) = if (v == 0.0) 0.0 else v
      case Avg =>
        val c = L(g * nL + y)
        nul(d) = c == 0
        val v = if (c == 0) 0.0 else D(g * nD + x) / c
        dv(d) = if (v == 0.0) 0.0 else v
      case _ => throw new IllegalStateException(s"aggregate $j is not a sort key")
    }
  }
}

object SlotKernel {
  private final val Count0 = 0
  private final val Count1 = 1
  private final val CountN = 2
  private final val SumL = 3
  private final val SumD = 4
  private final val Avg = 5
  private final val MinL = 6
  private final val MaxL = 7
  private final val MinD = 8
  private final val MaxD = 9
  private final val Var = 10
  private final val Covar = 11
  // object-state slots (driver-only) — every code >= Distinct
  private final val Distinct = 12
  private final val MinS = 13
  private final val MaxS = 14

  /** Primitive read code: 0 byte, 1 short, 2 int/date, 3 long/timestamp,
    * 4 float, 5 double; -1 = no primitive read.
    */
  def typeCode(dt: DataType): Int = dt match {
    case ByteType => 0
    case ShortType => 1
    case IntegerType | DateType => 2
    case LongType | TimestampType | TimestampNTZType => 3
    case FloatType => 4
    case DoubleType => 5
    case _ => -1
  }

  /** Kernel over a [[DriverAgg.Layout]] whose inputs are read with their
    * own types (value-projection rows, or direct columns of those types).
    */
  def apply(lay: DriverAgg.Layout, ansi: Boolean): SlotKernel =
    new SlotKernel(lay.slots, lay.inputs.map(_.dataType), lay.aggTypes,
      lay.nL, lay.nD, lay.nF, ansi, lay.nS, lay.nO)

  /** Slots whose final value the sorted-run top-n drain can compare
    * straight off the flat state.
    */
  def sortable(s: DriverAgg.Slot): Boolean = s match {
    case _: DriverAgg.CountSlot | _: DriverAgg.SumLSlot | _: DriverAgg.SumDSlot |
         _: DriverAgg.AvgSlot | _: DriverAgg.MinMaxLSlot | _: DriverAgg.MinMaxDSlot => true
    case _ => false
  }
}
