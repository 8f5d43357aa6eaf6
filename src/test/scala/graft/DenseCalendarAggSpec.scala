package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Calendar-bucket keys on the driver-final aggregate: the packed
  * partial reads a single calendar trunc key off the micros vector as a
  * long key, and the routed plan must be result-identical to the stock
  * plan (`BoundedKeyDriverAgg` off) — NULL key rows, out-of-window
  * days (before 1900, after 2100), every supported slot opcode
  * (count(*), count(col) with NULLs, sum long/double, avg, min/max
  * long/double), and month/quarter/year/week kernels.
  */
class DenseCalendarAggSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `on`: the routed driver-final aggregate; off: the stock plan. */
  private def withDense[A](on: Boolean)(f: => A): A =
    withGraft("BoundedKeyDriverAgg" -> on)(f)

  // cached clustered table with: NULL ts rows, a pre-1900 day and a
  // post-2100 day (overflow path), NULL measure values, negative values
  private lazy val base: DataFrame = {
    val df = spark.range(30000).selectExpr(
      """CASE WHEN id % 191 = 0 THEN NULL
        |     WHEN id % 500 = 7 THEN TIMESTAMP '1899-06-15 12:00:00'
        |     WHEN id % 500 = 13 THEN TIMESTAMP '2101-02-03 04:05:06'
        |     ELSE timestamp_micros(CAST(820454400000000 + (id * 7919) % 200000000 * 900000 AS BIGINT))
        |END AS ts""".stripMargin,
      "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST((id * 37) % 1000 - 200 AS DOUBLE) END AS d",
      "CASE WHEN id % 17 = 0 THEN NULL ELSE (id * 41) % 2000 - 500 END AS v",
      "CAST(id % 90 AS INT) AS i")
      // the day-range stats Tables attaches at cache build — required for
      // BoundedKeyDriverAgg's cardinality proof (span includes the
      // planted 1899/2101 outliers, so the claim is honest)
      .withMetadata("ts", new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft.minDay", -25767L).putLong("graft.maxDay", 47910L).build())
      .repartition(3).cache()
    df.count()
    df
  }

  private def usesDriverAgg(df: DataFrame): Boolean = {
    df.collect()
    def find(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      val q = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      q.collect { case d: graft.plans.DriverGroupAggExec => d }.nonEmpty ||
        q.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s.plan
        }.exists(find)
    }
    find(df.queryExecution.executedPlan)
  }

  private def hist(unit: String): DataFrame =
    base.groupBy(date_trunc(unit, col("ts")).as("b"))
      .agg(count(lit(1)).as("n"), count(col("d")).as("nd"),
        sum(col("v")).as("sl"), sum(col("d")).as("sd"),
        avg(col("d")).as("ad"), min(col("v")).as("mn"), max(col("v")).as("mx"),
        min(col("d")).as("dmn"), max(col("d")).as("dmx"))
      .orderBy(col("b").asc_nulls_first)

  test("the histogram shape routes through DriverAgg (not a vacuous A/B)") {
    withDense(true) { assert(usesDriverAgg(hist("month"))) }
  }

  test("dense arm is result-identical to the generic partial for every kernel, AQE on/off") {
    for (aqe <- Seq(true, false)) {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        for (unit <- Seq("month", "quarter", "year", "week")) {
          val on = withDense(true) { hist(unit).collect().toSeq }
          val off = withDense(false) { hist(unit).collect().toSeq }
          assert(on == off, s"unit=$unit aqe=$aqe differs")
          // the fixture really exercises NULL key + both overflow sides
          assert(on.head.isNullAt(0), s"unit=$unit: no NULL bucket")
          assert(on.size > 3, s"unit=$unit: degenerate bucket count")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("CAST(date_trunc AS DATE) histogram (the asDate arm) matches") {
    def q() = base
      .groupBy(date_trunc("month", col("ts")).cast("date").as("m"))
      .agg(count(lit(1)).as("n"), round(sum(col("d")), 2).as("s"))
      .orderBy(col("m").asc_nulls_first)
    val on = withDense(true) { q().collect().toSeq }
    val off = withDense(false) { q().collect().toSeq }
    assert(on == off)
  }

  test("out-of-window buckets carry exact values (overflow path)") {
    val rows = withDense(true) {
      base.filter(col("ts") < "1900-01-01" || col("ts") > "2101-01-01")
        .groupBy(date_trunc("month", col("ts")).as("m"))
        .agg(count(lit(1)).as("n")).orderBy("m").collect()
    }
    assert(rows.length == 2, rows.mkString(","))
    val viaDense = withDense(true) { hist("month").collect() }
    val pre1900 = viaDense.filter(r => !r.isNullAt(0) &&
      r.getTimestamp(0).toString.startsWith("1899"))
    assert(pre1900.length == 1 && pre1900.head.getLong(1) == rows.head.getLong(1))
  }
}
