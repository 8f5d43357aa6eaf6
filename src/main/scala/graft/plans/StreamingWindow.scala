package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.window.WindowExec

/** Streaming evaluation of forward-only windows over pre-sorted input.
  *
  * Spark's `WindowExec` materializes every partition-key group into an
  * `ExternalAppendOnlyUnsafeRowArray` (a row copy per input row) before
  * evaluating any frame. That is necessary for frames that look AHEAD,
  * and pure overhead for the forward-only shapes — which are exactly the
  * window workhorses of entity analytics:
  *
  *  - `lag(e, k)`  — a k-deep ring of evaluated values suffices;
  *  - `row_number()` — a counter;
  *  - running aggregates over `ROWS UNBOUNDED PRECEDING .. CURRENT ROW`
  *    (declarative sum/count/min/max/avg) — one aggregation buffer,
  *    update-then-emit per row.
  *
  * When every window function in a node is one of these, this operator
  * evaluates the whole node in ONE streaming pass: no group buffering,
  * no row copies. The reference's window dispatch makes the same
  * specialization (/root/reference/src/execution/operator/aggregate/
  * physical_window.cpp:205-229 routes constant-offset LEAD/LAG and
  * default-framed aggregates to its streaming path). Sessionization
  * (`lag(ts) over user/time`) and ranked running totals are the shapes
  * this exists for.
  *
  * Swapped in AFTER EnsureRequirements (via the injected columnar-rule
  * pass), so the child's clustering + ordering are already exactly what
  * `WindowExec` itself would have required — the streaming pass sees
  * partition-contiguous, fully-sorted rows by construction. IGNORE
  * NULLS, lead, rank/dense_rank (peer comparison) and bounded/range
  * frames stay on `WindowExec`.
  */
case class StreamingWindowExec(
    windowExpression: Seq[NamedExpression],
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ windowExpression.map(_.toAttribute)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)

  override protected def doExecute(): RDD[InternalRow] = {
    val n = windowExpression.length
    // hoist plan fields into locals: the task closure must not capture
    // `this` (the whole plan subtree would ship with every task)
    val wexprs = windowExpression
    val pspec = partitionSpec
    val childOutput = child.output
    val allOutput = output
    val childSchema = org.apache.spark.sql.types.StructType(
      childOutput.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
    val winSchema = org.apache.spark.sql.types.StructType(
      wexprs.map(e => org.apache.spark.sql.types.StructField(e.name, e.dataType, e.nullable)))
    child.execute().mapPartitions { it =>
      val partProj = UnsafeProjection.create(pspec, childOutput)
      val evals = wexprs.map(StreamingWindowExec.evaluator(_, childOutput)).toArray
      // WindowExec always emits UnsafeRow (its result projection); parents
      // like SortExec and ShuffleExchangeExec cast on that contract, so the
      // output must be UnsafeRow. The required child ordering forces a
      // SortExec below, whose rows are already UnsafeRow — so the cheap
      // path projects ONLY the n window values (a narrow row) and
      // binary-concatenates with the child row (two memcpys), instead of
      // re-projecting every child field through a JoinedRow. Non-Unsafe
      // child rows (defensive: a future rule change) take the full
      // projection fallback.
      val winProj = UnsafeProjection.create(wexprs.map(_.dataType).toArray)
      val joiner = codegen.GenerateUnsafeRowJoiner.create(childSchema, winSchema)
      lazy val fullProj = UnsafeProjection.create(allOutput, allOutput)

      new Iterator[InternalRow] {
        private var prevKey: UnsafeRow = null
        private val joined = new JoinedRow
        private val winRow = new GenericInternalRow(n)

        override def hasNext: Boolean = it.hasNext

        override def next(): InternalRow = {
          val row = it.next()
          val key = partProj(row)
          if (prevKey == null || key != prevKey) { // partition boundary
            prevKey = key.copy()
            var j = 0
            while (j < n) { evals(j).reset(); j += 1 }
          }
          var j = 0
          while (j < n) { winRow.update(j, evals(j).next(row)); j += 1 }
          row match {
            case u: UnsafeRow => joiner.join(u, winProj(winRow))
            case _ => fullProj(joined(row, winRow))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object StreamingWindowExec {

  /** Per-window-expression streaming evaluator: `next(row)` is called
    * exactly once per input row, in order, and returns the row's value.
    */
  private[plans] abstract class Eval { def reset(): Unit; def next(row: InternalRow): Any }

  /** Types whose InternalRow accessors can return a view into the row's
    * backing memory (UTF8String / UnsafeArrayData / UnsafeMapData /
    * UnsafeRow slices) rather than a self-contained value. Buffer slots
    * of these types must be defensively copied after each update when the
    * child iterator reuses its row object.
    */
  private[plans] def holdsObjectRef(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BinaryType => true
    case _: org.apache.spark.sql.types.ArrayType | _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.StructType => true
    case _ => false
  }

  private[plans] def evaluator(ne: NamedExpression, childOutput: Seq[Attribute]): Eval = ne match {
    case Alias(WindowExpression(l: Lag, _), _) =>
      val k = l.inputOffset.eval().asInstanceOf[Int]
      val input = BindReferences.bindReference(l.input, childOutput)
      val default = BindReferences.bindReference(l.default, childOutput)
      // ring slots must outlive the current row only for object-typed
      // values (the child iterator reuses its row buffer); primitives are
      // self-contained, so skip the per-row copyValue dispatch for them
      val copyIn = holdsObjectRef(l.input.dataType)
      new Eval {
        private val ring = new Array[Any](math.max(1, k))
        private var pos = 0L
        override def reset(): Unit = pos = 0L
        override def next(row: InternalRow): Any = {
          if (k == 0) input.eval(row)
          else {
            val v = if (pos >= k) ring(((pos - k) % k).toInt) else default.eval(row)
            val in = input.eval(row)
            ring((pos % k).toInt) = if (copyIn) InternalRow.copyValue(in) else in
            pos += 1L
            v
          }
        }
      }

    case Alias(WindowExpression(_: RowNumber, _), _) =>
      new Eval {
        private var n = 0L
        override def reset(): Unit = n = 0L
        override def next(row: InternalRow): Any = { n += 1L; n.toInt }
      }

    case Alias(WindowExpression(ae: AggregateExpression, _), _) =>
      val f = ae.aggregateFunction.asInstanceOf[DeclarativeAggregate]
      val bufferAttrs = f.aggBufferAttributes
      val bufferTypes = bufferAttrs.map(_.dataType).toArray
      val buffer = new SpecificInternalRow(bufferAttrs.map(_.dataType))
      // Buffer slots that hold object values (UTF8String, arrays, …): the
      // update projection stores them BY REFERENCE, and for a reused child
      // row (ColumnarToRow, UnsafeRow iterators) that reference is silently
      // overwritten by the next row — copy them out right after each update.
      val objIdx = bufferTypes.indices.filter(i =>
        StreamingWindowExec.holdsObjectRef(bufferTypes(i))).toArray
      val init = f.initialValues
      val update = MutableProjection.create(
        f.updateExpressions.map(BindReferences.bindReference(_, bufferAttrs ++ childOutput)))
        .target(buffer)
      val evalExpr = BindReferences.bindReference(f.evaluateExpression, bufferAttrs)
      // result values are consumed synchronously (projected into the
      // output UnsafeRow within the same next() call), but object-typed
      // results may view the mutable buffer — copy only those
      val copyResult = StreamingWindowExec.holdsObjectRef(f.dataType)
      val joined = new JoinedRow
      new Eval {
        override def reset(): Unit = {
          var i = 0
          while (i < init.length) { buffer.update(i, init(i).eval(EmptyRow)); i += 1 }
        }
        override def next(row: InternalRow): Any = {
          update(joined(buffer, row)) // running frame INCLUDES the current row
          var i = 0
          while (i < objIdx.length) {
            val j = objIdx(i)
            if (!buffer.isNullAt(j))
              buffer.update(j, InternalRow.copyValue(buffer.get(j, bufferTypes(j))))
            i += 1
          }
          val v = evalExpr.eval(buffer)
          if (copyResult) InternalRow.copyValue(v) else v
        }
      }

    case other => throw new IllegalStateException(s"unsupported streaming window: $other")
  }


  private def isRunningRowFrame(spec: WindowSpecDefinition): Boolean =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
      case _ => false
    }

  /** Every window function must be streamable forward-only: plain lag
    * (non-negative foldable offset, no IGNORE NULLS), row_number, or a
    * declarative complete-mode aggregate over the running row frame.
    */
  def supports(w: WindowExec): Boolean =
    w.windowExpression.nonEmpty && w.windowExpression.forall {
      case Alias(WindowExpression(l: Lag, _), _) =>
        !l.ignoreNulls && l.inputOffset.foldable &&
          (l.inputOffset.eval() match {
            case k: java.lang.Integer => k >= 0
            case _ => false
          })
      case Alias(WindowExpression(_: RowNumber, _), _) => true
      case Alias(WindowExpression(ae: AggregateExpression, spec), _) =>
        !ae.isDistinct && ae.filter.isEmpty && isRunningRowFrame(spec) &&
          ae.aggregateFunction.isInstanceOf[DeclarativeAggregate]
      case _ => false
    }
}
