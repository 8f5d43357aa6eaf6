package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.plans.MergeSortedCollectExec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object MergeSortedCollectSpec {

  /** The executed plan's root, through AQE's adaptive and stage wrappers. */
  def root(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => root(a.executedPlan)
    case q: QueryStageExec => root(q.plan)
    case p => p
  }

  /** Every node of the executed plan, through AQE's wrappers. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case p => p +: p.children.flatMap(nodes)
  }

  /** The merge node when it is the executed plan's root. */
  def mergedRoot(df: DataFrame): Option[MergeSortedCollectExec] =
    root(df.queryExecution.executedPlan) match {
      case m: MergeSortedCollectExec => Some(m)
      case _ => None
    }

  /** Index of the first row that sorts before its predecessor under the
    * node's order, if any: an independent check of collected rows.
    */
  def firstDescent(rows: Seq[Row], node: MergeSortedCollectExec): Option[Int] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(
      node.schema)
    val ord = RowOrdering.create(node.order, node.output)
    val internal = rows.map(r => toCatalyst(r).asInstanceOf[
      org.apache.spark.sql.catalyst.InternalRow])
    (1 until internal.length).find(i => ord.compare(internal(i - 1), internal(i)) > 0)
  }
}

/** plans/MergeSortedCollectExec + rules/MergeSortedCollect: a root ORDER
  * BY collects as per-partition sorted runs merged on the driver. Every
  * case compares `collect()` (the merge) in order, row by row, with the
  * same DataFrame's `execute()` path (`toLocalIterator`, the stock range
  * sort), and checks the collected order independently with Spark's
  * RowOrdering over the sort keys; AQE on and off.
  */
class MergeSortedCollectSpec extends AnyFunSuite {
  import MergeSortedCollectSpec._
  import SparkTestSession._

  private def bothAqe(f: Boolean => Unit): Unit =
    for (aqe <- Seq(false, true))
      withConf("spark.sql.adaptive.enabled" -> aqe.toString)(f(aqe))

  /** Collect through the merge; return the merged rows and the stock ones. */
  private def collectBoth(df: DataFrame): (Seq[Row], Seq[Row]) = {
    val merged = df.collect().toSeq
    val node = mergedRoot(df)
    assert(node.isDefined, df.queryExecution.executedPlan.toString.take(2000))
    val stock = df.toLocalIterator().asScala.toSeq
    assert(firstDescent(merged, node.get).isEmpty, "collected rows out of order")
    (merged, stock)
  }

  /** Row-by-row, including the sign of -0.0 (`toString`, not `==`). */
  private def assertSameOrder(df: DataFrame): Seq[Row] = {
    val (merged, stock) = collectBoth(df)
    assert(merged.map(_.toString) == stock.map(_.toString))
    merged
  }

  private def h2oLike(rows: Long, parts: Int) = spark.range(0, rows, 1, parts).selectExpr(
    "concat('id', CAST(id % 7 AS STRING)) AS id1",
    "concat('id', CAST(id % 11 AS STRING)) AS id2",
    "concat('id', CAST(id % 13 AS STRING)) AS id3",
    "CAST(id % 5 AS INT) AS id4",
    "CAST(id % 3 AS INT) AS id5",
    "CAST(id % 17 AS INT) AS id6",
    "CAST(id % 9 AS DOUBLE) * 0.5 AS v3")

  test("6-key string+int packed aggregate (g10-shaped): merged == stock, in order") {
    bothAqe { aqe =>
      val df = h2oLike(60000, 4)
        .groupBy("id1", "id2", "id3", "id4", "id5", "id6")
        .agg(sum("v3").as("v3"), count(lit(1)).as("cnt"))
        .orderBy("id1", "id2", "id3", "id4", "id5", "id6")
      val rows = assertSameOrder(df)
      assert(rows.length > 10000, s"aqe=$aqe: ${rows.length} groups")
      val plan = df.queryExecution.executedPlan
      assert(nodes(plan).exists(_.isInstanceOf[graft.plans.PackedFinalAggExec]),
        plan.toString.take(2000))
    }
  }

  test("ObjectHashAggregate (g06-shaped percentile + stddev): merged == stock") {
    bothAqe { aqe =>
      val df = h2oLike(30000, 4)
        .groupBy("id4", "id6")
        .agg(expr("percentile(v3, 0.5)").as("median_v3"), stddev("v3").as("sd_v3"))
        .orderBy("id4", "id6")
      val rows = assertSameOrder(df)
      assert(rows.length == 85, s"aqe=$aqe")
      assert(nodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ObjectHashAggregateExec]),
        df.queryExecution.executedPlan.toString.take(2000))
    }
  }

  test("multi-partition scan: DESC NULLS LAST / ASC NULLS FIRST over NULL, '', NaN, -0.0") {
    bothAqe { _ =>
      val df = spark.range(0, 3000, 1, 6).selectExpr(
          "id",
          "CASE WHEN id % 11 = 0 THEN NULL WHEN id % 7 = 0 THEN CAST('NaN' AS DOUBLE) " +
            "WHEN id % 5 = 0 THEN -0.0D WHEN id % 3 = 0 THEN 0.0D " +
            "ELSE CAST(id % 13 AS DOUBLE) - 6 END AS d",
          "CASE WHEN id % 17 = 0 THEN NULL WHEN id % 4 = 0 THEN '' " +
            "ELSE concat('s', CAST(id % 9 AS STRING)) END AS s")
        .orderBy(col("d").desc_nulls_last, col("s").asc_nulls_first, col("id").desc)
      val rows = assertSameOrder(df)
      assert(rows.length == 3000)
      val ds = rows.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      assert(ds.head.exists(_.isNaN), "NaN sorts largest, first under DESC")
      assert(ds.takeRight(3000 / 11 + 1).forall(_.isEmpty), "NULLS LAST")
      assert(ds.flatten.exists(d => d == 0.0 && 1.0 / d < 0), "-0.0 survives")
    }
  }

  test("ties: the sort-key projection matches the stock sort") {
    bothAqe { _ =>
      val df = spark.range(0, 5000, 1, 5)
        .selectExpr("id % 10 AS k", "id AS v")
        .orderBy("k")
      val (merged, stock) = collectBoth(df)
      assert(merged.map(_.getLong(0)) == stock.map(_.getLong(0)))
      assert(merged.map(_.getLong(1)).sorted == stock.map(_.getLong(1)).sorted)
    }
  }

  test("empty input, and inputs with empty partitions") {
    bothAqe { _ =>
      val empty = spark.range(0, 1000, 1, 4).toDF().filter("id < 0").orderBy(col("id").desc)
      assert(assertSameOrder(empty).isEmpty)
      val sparse = spark.range(0, 1000, 1, 8).toDF().filter("id < 300 OR id = 999")
        .orderBy(col("id").desc)
      assert(assertSameOrder(sparse).map(_.getLong(0)) ==
        (999L +: (299L to 0L by -1L)))
    }
  }

  test("ORDER BY over a shuffled aggregate runs one job") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = h2oLike(20000, 4).groupBy("id1", "id2").agg(sum("v3").as("v"))
        .orderBy("id1", "id2")
      df.collect()
      assert(mergedRoot(df).isDefined)
      val jobs = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        h2oLike(20000, 4).groupBy("id1", "id2").agg(sum("v3").as("v"))
          .orderBy("id1", "id2").collect()
        // listener bus is async; poll briefly for the JobStart events
        val deadline = System.nanoTime() + 3_000_000_000L
        while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
        Thread.sleep(300)
        assert(jobs.get() == 1, s"ran ${jobs.get()} jobs, expected 1")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("orderBy(...).cache() keeps the stock range-partitioned layout and contents") {
    bothAqe { aqe =>
      val base = spark.range(0, 4000, 1, 4).selectExpr("id % 97 AS k", "id AS v")
      def sorted() = base.orderBy(col("k"), col("v").desc)
      def parts(df: DataFrame): Seq[Seq[(Long, Long)]] =
        df.queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1))).glom()
          .collect().map(_.toSeq).toSeq
      val expected = sorted().collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      // the stock layout: the same range partitioning, sorted per partition
      // (its bounds come from a seeded sample, so compare shapes, not cuts)
      val stock = parts(base.repartitionByRange(col("k"), col("v").desc)
        .sortWithinPartitions(col("k"), col("v").desc))
      val df = sorted().cache()
      try {
        df.count()
        val cached = sorted()
        val plan = cached.queryExecution.executedPlan
        assert(nodes(plan).exists(_.isInstanceOf[InMemoryTableScanExec]), plan.toString)
        val got = parts(cached)
        assert(got.flatten == expected)
        if (!aqe) {
          // under AQE the stock plan's own exchange coalesces too
          assert(plan.outputPartitioning.isInstanceOf[RangePartitioning], plan.toString)
          assert(got.length == stock.length && got.length > 1)
        }
        assert(got.forall(p => p == p.sortBy { case (k, v) => (k, -v) }))
        assert(cached.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) == expected)
      } finally df.unpersist(blocking = true)
    }
  }

  private def assertDeclined(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(!nodes(plan).exists(_.isInstanceOf[MergeSortedCollectExec]),
      plan.toString.take(2000))
    assert(nodes(plan).exists {
      case s: SortExec => s.global
      case _ => false
    }, plan.toString.take(2000))
    val rows = df.collect().toSeq
    assert(rows.map(_.toString) == df.toLocalIterator().asScala.toSeq.map(_.toString))
  }

  test("declines: root Project, CollectLimit, subquery sort key, non-root Sort") {
    bothAqe { _ =>
      val base = spark.range(0, 2000, 1, 4).selectExpr("id % 50 AS k", "id AS v")
      assertDeclined(base.orderBy("k", "v").select(col("v")))
      withConf("spark.sql.execution.topKSortFallbackThreshold" -> "1") {
        assertDeclined(base.orderBy("k", "v").limit(10))
      }
      base.createOrReplaceTempView("msc_base")
      try {
        val sub = spark.sql(
          "SELECT k, v FROM msc_base ORDER BY k * (SELECT max(id) FROM range(3)), v")
        assertDeclined(sub)
      } finally spark.catalog.dropTempView("msc_base")
      assertDeclined(base.orderBy("k", "v").coalesce(1))
    }
  }

  test("declines under AQE re-optimization: ORDER BY ... LIMIT keeps its limit") {
    // 20k groups shuffle as a few packed state blobs; AQE's EliminateLimits
    // reads that record count as the row count and drops the LIMIT from
    // the re-planned root sort, which must then stay costlier than the
    // current TakeOrderedAndProject plan
    withConf("spark.sql.adaptive.enabled" -> "true") {
      val df = spark.range(0, 60000, 1, 4)
        .selectExpr("CAST(id % 20000 AS INT) AS k", "id % 5 AS l")
        .groupBy("k").agg(sum("l").as("s")).orderBy("k").limit(137)
      assert(df.collect().map(_.getInt(0)).toSeq == (0 until 137))
      assert(!nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[MergeSortedCollectExec]),
        df.queryExecution.executedPlan.toString.take(2000))
    }
  }

  test("declines: single-partition child keeps the stock sort with no exchange") {
    bothAqe { _ =>
      val df = spark.range(0, 100, 1, 1).toDF().orderBy(col("id").desc)
      assertDeclined(df)
    }
  }
}
