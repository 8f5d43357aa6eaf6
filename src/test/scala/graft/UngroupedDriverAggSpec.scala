package graft

import graft.plans.DriverGroupAggPlan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Root UNGROUPED aggregates route to the driver-finalized single-job
  * form (the fused scan→ungrouped-aggregate): differential vs the stock
  * shuffled plan on every supported slot, over both the row path and
  * the columnar cache (which engages the column-major batch loops),
  * plus the decline surface (DISTINCT / FILTER clause / metadata-
  * answerable COUNT-MIN-MAX over a bare scan / unsupported functions).
  */
class UngroupedDriverAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case p: DriverGroupAggPlan => p
    }.nonEmpty

  private def offRows(df: => DataFrame): Seq[String] =
    withGraft("DriverAgg.ungrouped" -> false)(df.collect().toSeq.map(_.toString))

  private lazy val facts: DataFrame = spark.range(0, 9973)
    .select(
      col("id").cast("int").as("i"),
      col("id").as("l"),
      when(col("id") % 11 =!= 0, (col("id") % 101).cast("double") / 4.0).as("d"),
      when(col("id") % 7 =!= 0, concat(lit("s"), col("id") % 997)).as("s"))

  private def agged(src: DataFrame): DataFrame = src.agg(
    count(lit(1)).as("n"), count(col("d")).as("nd"),
    sum(col("i")).as("si"), sum(col("l")).as("sl"), sum(col("d")).as("sd"),
    avg(col("d")).as("ad"), min(col("i")).as("mi"), max(col("l")).as("xl"),
    min(col("d")).as("md"), max(col("d")).as("xd"),
    min(col("s")).as("ms"), max(col("s")).as("xs"))

  test("row path: all slots differential vs the stock plan") {
    val df = agged(facts)
    assert(fired(df), "ungrouped route should fire")
    assert(df.collect().toSeq.map(_.toString) == offRows(agged(facts)))
  }

  test("columnar cache path: all slots differential (column-major loops)") {
    val cached = facts.cache()
    try {
      cached.count()
      val df = agged(cached)
      assert(fired(df))
      assert(df.collect().toSeq.map(_.toString) == offRows(agged(cached)))
    } finally cached.unpersist()
  }

  test("selection fold: filtered ungrouped aggregate over the cache") {
    val cached = facts.cache()
    try {
      cached.count()
      def q = cached.filter(col("i") % 3 === 1 && col("d") > 5.0)
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"), max(col("i")).as("xi"))
      assert(fired(q))
      assert(q.collect().toSeq.map(_.toString) == offRows(q))
    } finally cached.unpersist()
  }

  test("empty input: count 0, sums NULL — exact stock semantics") {
    val empty = facts.filter(col("i") < 0)
    val df = empty.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
      min(col("s")).as("ms"))
    assert(fired(df))
    assert(df.collect().toSeq.map(_.toString) ==
      offRows(empty.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        min(col("s")).as("ms"))))
  }

  test("declines: DISTINCT, FILTER clause, metadata-answerable min/max") {
    assert(!fired(facts.agg(countDistinct(col("s")).as("nd"))))
    facts.createOrReplaceTempView("ug_facts")
    assert(!fired(spark.sql(
      "SELECT sum(d) FILTER (WHERE i % 2 = 0) AS sf FROM ug_facts")))
    // COUNT/MIN/MAX over a BARE relation: parquet footer metadata could
    // answer it — the route must leave it to aggregate pushdown. (facts
    // itself is a computed Project, which is NOT metadata-answerable —
    // hence the parquet roundtrip here.)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ug_${
      java.util.UUID.randomUUID().toString.take(8)}"
    facts.write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    assert(!fired(pq.agg(count(lit(1)).as("n"), min(col("i")).as("mi"))))
    // ... but adding a SUM makes the scan unavoidable, so routing wins
    assert(fired(pq.agg(count(lit(1)).as("n"), sum(col("i")).as("si"))))
  }

  test("ungrouped over a grouped final: routes, drops the single-partition exchange") {
    // the thq15 shape: max over a grouped aggregate result — the
    // driver-finalized partial runs inside the final's stage instead of
    // exchanging O(groups) rows to one partition
    def q = facts.groupBy(col("i") % 501).agg(sum(col("d")).as("rev"))
      .agg(max(col("rev")).as("mx"), sum(col("rev")).as("tot"),
        count(lit(1)).as("n"))
    assert(fired(q))
    assert(q.queryExecution.executedPlan.toString.contains("DriverGroupAgg"))
    assert(q.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("scalar subquery over a grouped final (thq15 shape): routes inside the subquery") {
    facts.createOrReplaceTempView("ug_facts2")
    val sql = """
      WITH rev AS (SELECT i % 501 AS k, sum(d) AS total FROM ug_facts2 GROUP BY 1)
      SELECT k, total FROM rev
      WHERE total = (SELECT max(total) FROM rev) ORDER BY k"""
    // this spec pins the subquery ROUTING arm — the fallback for shapes
    // the WinMagic rewrite declines. On this exact shape ScalarAggToWindow
    // outranks it (the subquery becomes a window and no scalar subquery
    // survives to route), so pin the arm with WinMagic off.
    withGraft("ScalarAggToWindow" -> false) {
      val df = spark.sql(sql)
      val routed = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case p: DriverGroupAggPlan => p
      }
      assert(routed.nonEmpty, df.queryExecution.optimizedPlan.toString)
      val expect = offRows(spark.sql(sql))
      assert(df.collect().toSeq.map(_.toString) == expect)
    }
  }

  test("thq15 subquery shape under WinMagic: window rewrite wins, results exact") {
    facts.createOrReplaceTempView("ug_facts3")
    val sql = """
      WITH rev AS (SELECT i % 501 AS k, sum(d) AS total FROM ug_facts3 GROUP BY 1)
      SELECT k, total FROM rev
      WHERE total = (SELECT max(total) FROM rev) ORDER BY k"""
    val df = spark.sql(sql)
    // differential: default stack (WinMagic claims the shape) vs both
    // rewrites disabled
    val expect = withGraft("ScalarAggToWindow" -> false)(offRows(spark.sql(sql)))
    assert(df.collect().toSeq.map(_.toString) == expect)
  }

  test("declines: join child keeps the stock plan (the interpreted-partial veto)") {
    val dims = spark.range(0, 997).select(col("id").as("l"), (col("id") * 2).as("w"))
    def q = facts.join(dims, "l").agg(sum(col("w") + col("d")).as("sw"))
    assert(!fired(q))
    assert(q.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("expression inputs (the q6 shape): sum of a compiled double tree") {
    def q = facts.filter(col("d") > 2.0)
      .agg(sum(col("d") * (lit(1.0) - col("d") / 100.0)).as("rev"))
    assert(fired(q))
    assert(q.collect().toSeq.map(_.toString) == offRows(q))
  }
}
