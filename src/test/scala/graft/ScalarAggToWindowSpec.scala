package graft

import graft.rules.ScalarAggToWindow
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The WinMagic HAVING-threshold rewrite (rules/ScalarAggToWindow):
  * differential vs the stock double-tower plan on the TPC-H q11 shape,
  * single-scan plan pin, agg-function variants, and the decline surface
  * (different child, correlated subquery, distinct aggregate).
  */
class ScalarAggToWindowSpec extends AnyFunSuite {
  import SparkTestSession._

  private def register(): Unit =
    Seq("partsupp", "supplier", "nation", "orders", "lineitem").foreach { t =>
      graft.sources.TpchFixture.view(spark, t)
    }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.windowExpressions.exists(_.name.startsWith("_graft_whaving")) => w
    }.nonEmpty

  private def firedFilterLevel(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.windowExpressions.exists(_.name.startsWith("_graft_wscalar")) => w
    }.nonEmpty

  private def offRows(sql: String): Seq[String] =
    withGraft("ScalarAggToWindow" -> false)(spark.sql(sql).collect().toSeq.map(_.toString))

  private val q11 = """
    SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
    FROM partsupp, supplier, nation
    WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name = 'GERMANY'
    GROUP BY ps_partkey
    HAVING sum(ps_supplycost * ps_availqty) > (
      SELECT sum(ps_supplycost * ps_availqty) * 0.0001
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'GERMANY')
    ORDER BY value DESC"""

  test("q11 shape: fires, single partsupp scan, exact rows") {
    register()
    val df = spark.sql(q11)
    assert(fired(df), df.queryExecution.analyzed.toString)
    // the rewrite's point: ONE tower — a single scan of partsupp
    val scans = df.queryExecution.executedPlan.toString
      .split("\n").count(l => l.contains("Scan") && l.contains("partsupp"))
    assert(scans <= 1, df.queryExecution.executedPlan.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q11))
  }

  test("count / min / max variants: exact rows") {
    register()
    val q = """
      SELECT o_custkey, count(*) AS c
      FROM orders GROUP BY o_custkey
      HAVING count(*) > (SELECT count(*) * 0.001 FROM orders)
      ORDER BY c DESC, o_custkey"""
    val df = spark.sql(q)
    assert(fired(df))
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
    val qm = """
      SELECT o_custkey, max(o_totalprice) AS m
      FROM orders GROUP BY o_custkey
      HAVING max(o_totalprice) > (SELECT max(o_totalprice) * 0.9 FROM orders)
      ORDER BY m DESC, o_custkey"""
    val dfm = spark.sql(qm)
    assert(fired(dfm))
    assert(dfm.collect().toSeq.map(_.toString) == offRows(qm))
  }

  test("declines: different child, correlated subquery, distinct agg") {
    register()
    // subquery over a DIFFERENT relation (lineitem vs orders)
    val diff = """
      SELECT o_custkey, sum(o_totalprice) AS v
      FROM orders GROUP BY o_custkey
      HAVING sum(o_totalprice) > (SELECT sum(l_extendedprice) * 0.001 FROM lineitem)
      ORDER BY v DESC, o_custkey"""
    assert(!fired(spark.sql(diff)))
    assert(spark.sql(diff).collect().toSeq.map(_.toString) == offRows(diff))
    // subquery with a DIFFERENT filter (not the same subtree)
    val difffilter = """
      SELECT o_custkey, sum(o_totalprice) AS v
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
      HAVING sum(o_totalprice) > (SELECT sum(o_totalprice) * 0.001
        FROM orders WHERE o_orderstatus = 'O')
      ORDER BY v DESC, o_custkey"""
    assert(!fired(spark.sql(difffilter)))
    assert(spark.sql(difffilter).collect().toSeq.map(_.toString) ==
      offRows(difffilter))
    // DISTINCT aggregate in the subquery does not decompose
    val dist = """
      SELECT o_custkey, sum(o_totalprice) AS v
      FROM orders GROUP BY o_custkey
      HAVING sum(o_totalprice) > (SELECT count(DISTINCT o_orderkey) * 0.5 FROM orders)
      ORDER BY v DESC, o_custkey"""
    assert(!fired(spark.sql(dist)))
    assert(spark.sql(dist).collect().toSeq.map(_.toString) == offRows(dist))
  }

  test("q15 CTE shape: filter-level fires, single lineitem scan, exact rows") {
    register()
    val q15 = """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= CAST('1996-01-01' AS date)
          AND l_shipdate < CAST('1996-04-01' AS date)
        GROUP BY supplier_no)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      ORDER BY s_suppkey"""
    val df = spark.sql(q15)
    assert(firedFilterLevel(df), df.queryExecution.analyzed.toString)
    val scans = df.queryExecution.executedPlan.toString
      .split("\n").count(l => l.contains("Scan") && l.contains("lineitem"))
    assert(scans <= 1, df.queryExecution.executedPlan.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q15))
  }

  test("avg threshold over the same BASE table declines (funnel guard)") {
    register()
    // the shared node is a base relation: planting an OVER () window on
    // it would funnel every row through one partition — measured 1.12×
    // WORSE than the stock second tower on TPC-H q22 x100, so the
    // filter-level arm requires an aggregate-rooted shared node
    val q = """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) * 3 FROM orders)
      ORDER BY o_totalprice DESC, o_orderkey"""
    val df = spark.sql(q)
    assert(!firedFilterLevel(df))
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("filter-level declines: null-extended side of a left join") {
    register()
    // subquery over lineitem; lineitem sits on the NULL-extended side of
    // the outer join, so its rows are not row-preserved — must decline
    val q = """
      SELECT o_orderkey, l_extendedprice
      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_extendedprice > (SELECT avg(l_extendedprice) * 2 FROM lineitem)
      ORDER BY o_orderkey, l_extendedprice"""
    val df = spark.sql(q)
    assert(!firedFilterLevel(df))
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("two thresholds in one HAVING: both rewrite, exact rows") {
    register()
    val q = """
      SELECT o_custkey, sum(o_totalprice) AS v, count(*) AS c
      FROM orders GROUP BY o_custkey
      HAVING sum(o_totalprice) > (SELECT sum(o_totalprice) * 0.001 FROM orders)
         AND count(*) >= (SELECT count(*) * 0.0005 FROM orders)
      ORDER BY v DESC, o_custkey"""
    val df = spark.sql(q)
    assert(fired(df))
    val scans = df.queryExecution.executedPlan.toString
      .split("\n").count(l => l.contains("Scan") && l.contains("orders"))
    assert(scans <= 1)
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }

  // q15-like shared grouped view, inlined twice (the shape the lift
  // serves: aggregate-rooted shared node + extra subquery-side filter)
  private def viewQ(subWhere: String): String = s"""
      SELECT c, s FROM (
        SELECT o_custkey AS c, sum(o_totalprice) AS s
        FROM orders GROUP BY o_custkey) v
      WHERE s > (SELECT avg(s) FROM (
        SELECT o_custkey AS c, sum(o_totalprice) AS s
        FROM orders GROUP BY o_custkey) v2 $subWhere)
      ORDER BY s DESC, c"""

  test("predicate-lift: extra subquery filter over the shared grouped view") {
    register()
    val q = viewQ("WHERE c % 2 = 0")
    val df = spark.sql(q)
    assert(firedFilterLevel(df), df.queryExecution.analyzed.toString)
    // the rewrite's point: the grouped view is computed once
    val aggScans = df.queryExecution.executedPlan.toString
      .split("\n").count(l => l.contains("Scan") && l.contains("orders"))
    assert(aggScans <= 1, df.queryExecution.executedPlan.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("predicate-lift: count form counts only predicate rows") {
    register()
    val q = s"""
      SELECT c, s FROM (
        SELECT o_custkey AS c, sum(o_totalprice) AS s
        FROM orders GROUP BY o_custkey) v
      WHERE c <= (SELECT count(*) FROM (
        SELECT o_custkey AS c, sum(o_totalprice) AS s
        FROM orders GROUP BY o_custkey) v2 WHERE s > 200000.0)
      ORDER BY s DESC, c"""
    val df = spark.sql(q)
    assert(firedFilterLevel(df), df.queryExecution.analyzed.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("predicate-lift declines: subquery filter contains its own subquery") {
    register()
    val q = viewQ(
      "WHERE c IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')")
    val df = spark.sql(q)
    assert(!firedFilterLevel(df), df.queryExecution.analyzed.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }
}
