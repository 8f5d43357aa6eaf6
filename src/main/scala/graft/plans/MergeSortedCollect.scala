package graft.plans

import java.util.concurrent.TimeUnit.NANOSECONDS

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SQLExecution, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.bridge

/** Root ORDER BY without a sampling job: each task sorts its own
  * partition of the child, the driver merges the sorted runs.
  *
  * The stock global sort is `SortExec(order, global) ← Exchange
  * rangepartitioning(order) ← child`. Collecting it costs a
  * `RangePartitioner` sampling job that computes the child once, then a
  * second job that computes it again to write the range exchange, then a
  * third stage that sorts. The reference orders a result with
  * thread-local sorted runs and a merge and no sampling pass
  * (execution/operator/order/physical_order.cpp,
  * common/sort/merge_sorter.cpp); `executeCollect` does the same in one
  * job: every task sorts its partition of `child` with Spark's spillable
  * `UnsafeExternalRowSorter` (built by `SortExec.createSorter`, the
  * sorter the stock sort uses) and returns the run as encoded UnsafeRows,
  * so task results stay under `spark.driver.maxResultSize`; the driver
  * k-way merges the runs with an ordering bound to `child.output`, ties
  * to the lower-numbered partition.
  *
  * `doExecute` runs exactly the stock `SortExec(order, global = true,
  * ShuffleExchangeExec(partitioning, child))`, so `execute()` consumers
  * (`df.cache()`, `toLocalIterator`, `df.rdd`, Arrow, writes) see the
  * range-partitioned layout that `outputPartitioning`/`outputOrdering`
  * report, at any scale. Spark's `CollectLimitExec` splits its two paths
  * the same way.
  *
  * Metrics: `numOutputRows` (both paths), `sortTime`/`peakMemory`/
  * `spillSize` (task side; shared with the stock sort, so both paths
  * fill them) and `mergeTime` (driver side, collect only).
  *
  * Planned only at the plan root by [[graft.rules.MergeSortedCollect]].
  */
final case class MergeSortedCollectExec(
    order: Seq[SortOrder],
    partitioning: RangePartitioning,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = partitioning
  override def outputOrdering: Seq[SortOrder] = order

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(order, "[", ", ", "]", maxFields)}"

  override protected def withNewChildInternal(c: SparkPlan): MergeSortedCollectExec =
    copy(child = c)

  @transient private lazy val stock =
    SortExec(order, global = true, ShuffleExchangeExec(partitioning, child))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "mergeTime" -> SQLMetrics.createTimingMetric(sparkContext, "driver merge time")) ++
    stock.metrics

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    stock.execute().mapPartitions { it =>
      it.map { r => numOutputRows += 1; r }
    }
  }

  override def executeCollect(): Array[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val sortTime = longMetric("sortTime")
    val peakMemory = longMetric("peakMemory")
    val spillSize = longMetric("spillSize")
    val localSort = SortExec(order, global = false, child)
    val runs = child.execute().mapPartitions { it =>
      val sorter = localSort.createSorter()
      val toUnsafe = UnsafeProjection.create(localSort.schema)
      val taskMetrics = TaskContext.get().taskMetrics()
      val spillBefore = taskMetrics.memoryBytesSpilled
      val sorted = sorter.sort(it.map {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      })
      sortTime += NANOSECONDS.toMillis(sorter.getSortTimeNanos)
      peakMemory += sorter.getPeakMemoryUsage
      spillSize += taskMetrics.memoryBytesSpilled - spillBefore
      Iterator.single(MergeSortedCollectExec.encodeRun(sorted, numOutputRows))
    }.collect()

    val t0 = System.nanoTime()
    val rows = MergeSortedCollectExec.merge(
      runs, output.length, RowOrdering.create(order, output))
    longMetric("mergeTime") += NANOSECONDS.toMillis(System.nanoTime() - t0)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("mergeTime")))
    rows
  }
}

object MergeSortedCollectExec {

  /** One sorted run as (row count, bytes): per row an int length and the
    * UnsafeRow's bytes, compressed with the codec `executeCollect`'s own
    * encoding uses, so task result sizes (and `maxResultSize`) match the
    * stock collect. A run is one byte array: a single partition's run is
    * capped at 2 GB compressed, past the default `maxResultSize`.
    */
  private def encodeRun(rows: Iterator[InternalRow], numOutputRows: SQLMetric)
      : (Int, Array[Byte]) = {
    val bytes = new java.io.ByteArrayOutputStream(1 << 16)
    val out = new java.io.DataOutputStream(bridge.compressedOutput(bytes))
    val buf = new Array[Byte](4096)
    var n = 0
    while (rows.hasNext) {
      val r = rows.next().asInstanceOf[UnsafeRow]
      out.writeInt(r.getSizeInBytes)
      r.writeToStream(out, buf)
      n += 1
    }
    out.close()
    numOutputRows += n
    (n, bytes.toByteArray)
  }

  /** k-way merge of sorted runs into one array, ties to the lower run. */
  private[plans] def merge(
      runs: Array[(Int, Array[Byte])],
      numFields: Int,
      ord: Ordering[InternalRow]): Array[InternalRow] = {
    val k = runs.length
    val result = new Array[InternalRow](runs.iterator.map(_._1).sum)
    val ins = runs.map { case (_, b) =>
      new java.io.DataInputStream(bridge.compressedInput(new java.io.ByteArrayInputStream(b)))
    }
    val left = runs.map(_._1)
    val head = new Array[UnsafeRow](k)
    def advance(i: Int): Unit = {
      val bytes = new Array[Byte](ins(i).readInt())
      ins(i).readFully(bytes)
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, bytes.length)
      head(i) = row
      left(i) -= 1
    }
    // binary min-heap of run ids over their head rows
    val heap = new Array[Int](k)
    var size = 0
    def less(a: Int, b: Int): Boolean = {
      val c = ord.compare(head(a), head(b))
      c < 0 || (c == 0 && a < b)
    }
    def siftDown(from: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= size) done = true
        else {
          val c = if (l + 1 < size && less(heap(l + 1), heap(l))) l + 1 else l
          if (less(heap(c), heap(i))) {
            val t = heap(c); heap(c) = heap(i); heap(i) = t; i = c
          } else done = true
        }
      }
    }
    var i = 0
    while (i < k) {
      if (left(i) > 0) { advance(i); heap(size) = i; size += 1 }
      i += 1
    }
    i = size / 2 - 1
    while (i >= 0) { siftDown(i); i -= 1 }
    var n = 0
    while (size > 0) {
      val top = heap(0)
      result(n) = head(top)
      n += 1
      if (left(top) > 0) advance(top)
      else { size -= 1; heap(0) = heap(size) }
      siftDown(0)
    }
    ins.foreach(_.close())
    result
  }
}
