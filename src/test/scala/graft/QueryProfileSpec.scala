package graft

import graft.plans.{DriverAgg, QueryProfile}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite {
  import SparkTestSession._

  test("profile relationalizes the executed plan's metrics") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 3, i)).toDF("k", "v")
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    val prof = QueryProfile.profile(df).collect()

    assert(prof.nonEmpty)
    // the engine's rule stack may plan its own aggregate operators
    // (PackedPartialAgg/PackedFinalAgg) in place of HashAggregate — the
    // profile must surface whichever actually ran
    val ops = prof.map(_.getString(1)).toSet
    assert(ops.exists(_.toLowerCase.contains("agg")), ops)

    // the deterministic metric: some operator emits exactly the 3 groups
    val threes = prof.filter(r =>
      r.getString(2).toLowerCase.contains("rows") && r.getLong(3) == 3L)
    assert(threes.nonEmpty, prof.mkString("; "))

    // pre-order ids: strictly increasing within the dump, root first
    val ids = prof.map(_.getInt(0))
    assert(ids.min == 0)
  }

  test("ORDER BY over a multi-partition aggregate: the merge node reports the group count") {
    import spark.implicits._
    val df = spark.range(0, 20000, 1, 4).selectExpr("id % 1000 AS k", "id AS v")
      .groupBy(col("k")).agg(sum(col("v")).as("s")).orderBy(col("k"))
    assert(MergeSortedCollectSpec.mergedRoot(df).isDefined,
      df.queryExecution.executedPlan.toString.take(2000))
    val prof = QueryProfile.profile(df).collect()
    val rows = prof.filter(r =>
      r.getString(1) == "MergeSortedCollect" && r.getString(2) == "numOutputRows")
    assert(rows.map(_.getLong(3)).toSeq == Seq(1000L), prof.mkString("; "))
    val named = prof.filter(_.getString(1) == "MergeSortedCollect").map(_.getString(2)).toSet
    assert(Set("numOutputRows", "sortTime", "mergeTime").subsetOf(named), named)
  }

  test("profile executes the df's own plan, not a rewritten count") {
    import spark.implicits._
    val df = (1 to 10).toDF("v").filter(col("v") > 5)
    val prof = QueryProfile.profile(df).collect()
    val filterOut = prof.filter(r =>
      r.getString(2) == "numOutputRows" && r.getLong(3) == 5L)
    assert(filterOut.nonEmpty, prof.mkString("; "))
  }

  test("driver-final aggregate reports output rows, merged groups and valve fallbacks") {
    def driverMetrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      QueryProfile.profile(df).collect().filter(_.getString(1) == "DriverGroupAgg")
        .map(r => r.getString(2) -> r.getLong(3)).toMap
    def grouped(mod: Int) = spark.range(0, 3000, 1, 3).selectExpr(s"id % $mod AS k", "id AS v")
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    // routed: 3 groups merged from 3 tasks, no fallback
    assert(driverMetrics(DriverAgg.lowCard(grouped(3), Seq(col("k")))) ==
      Map("numOutputRows" -> 3L, "mergedGroups" -> 3L, "valveFallbacks" -> 0L))
    // valve trip: 30 groups per task against maxGroups = 16 — the
    // retained plan's 30 rows, nothing merged on the driver
    assert(driverMetrics(DriverAgg.lowCard(grouped(30), Seq(col("k")), maxGroups = 16)) ==
      Map("numOutputRows" -> 30L, "mergedGroups" -> 0L, "valveFallbacks" -> 1L))
  }
}
