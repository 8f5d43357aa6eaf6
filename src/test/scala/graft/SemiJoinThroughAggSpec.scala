package graft

import graft.rules.SemiJoinThroughAgg
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Magic-set pushdown (rules/SemiJoinThroughAgg): the decorrelated
  * TPC-H q17/q2/q20 shapes — a selective dimension joined against a
  * grouped aggregate over the fact — differential vs the stock plan,
  * plan pin (the aggregate input gains a semi join), and the decline
  * surface (big key side, no grouping-key overlap, outer joins).
  */
class SemiJoinThroughAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def register(): Unit =
    Seq("part", "lineitem", "partsupp", "supplier", "nation", "region")
      .foreach(graft.sources.TpchFixture.view(spark, _))

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi &&
            j.right.output.exists(_.name.startsWith("_graft_semiagg_k")) => j
    }.nonEmpty

  private def offRows(sql: String): Seq[String] =
    withGraft("SemiJoinThroughAgg" -> false)(spark.sql(sql).collect().toSeq.map(_.toString))

  private val q17 = """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      AND p_container = 'MED BOX'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = p_partkey)"""

  test("q17 decorrelated shape: semi filter reaches the aggregate input") {
    register()
    val df = spark.sql(q17)
    assert(fired(df), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q17))
  }

  test("q20 shape (agg grouped on two keys): fires, exact rows") {
    register()
    val q = """
      SELECT s_name, s_address FROM supplier, nation
      WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'forest%')
          AND ps_availqty > (
            SELECT 0.5 * sum(l_quantity) FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= CAST('1996-01-01' AS date)
              AND l_shipdate < CAST('1997-01-01' AS date)))
        AND s_nationkey = n_nationkey AND n_name = 'CANADA'
      ORDER BY s_name"""
    val df = spark.sql(q)
    assert(fired(df), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }

  test("declines: no grouping-key overlap") {
    register()
    // join key is the AGGREGATED value, not a grouping key
    val q = """
      SELECT p_partkey, t.cnt FROM part
      JOIN (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey) t
        ON p_size = t.cnt
      ORDER BY p_partkey LIMIT 5"""
    val df = spark.sql(q)
    assert(!fired(df))
    assert(df.collect().toSeq.map(_.toString) == offRows(q))
  }
}
