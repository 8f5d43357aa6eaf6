package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rules/SessionCountRule + plans/SessionCount: the lag-gap sessionize
  * count collapses to one primitive loop, result-identical to the
  * window+filter+aggregate pipeline — NULL timestamps (gap predicate
  * NULL), NULL entity keys (own group), exact-gap boundaries (strict >),
  * single-event users, AQE on/off, and the no-rewrite guards.
  */
class SessionCountSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withFuse[A](on: Boolean)(f: => A): A = withGraft("SessionCountRule" -> on)(f)

  // gap = 100 micros; NULL ts rows, NULL users, exact-boundary gaps,
  // ties on ts; clustered + sorted like the warm cache
  private lazy val base: DataFrame = {
    val df = spark.range(4000).selectExpr(
      "CASE WHEN id % 131 = 0 THEN NULL ELSE id % 37 END AS u",
      """CASE WHEN id % 97 = 0 THEN NULL
        |     ELSE timestamp_micros((id * 7919) % 1000 * 50) END AS ts""".stripMargin,
      "id AS eid")
      .repartition(5, col("u")).sortWithinPartitions("u", "ts", "eid").cache()
    df.count()
    df
  }

  private def q(): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("ts"), col("eid"))
    base.withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNull ||
        (unix_micros(col("ts")) - unix_micros(col("prev"))) > 100L)
      .groupBy(col("u")).agg(count(lit(1)).as("sessions"))
  }

  test("fused session count plans and is result-identical, AQE on/off") {
    for (aqe <- Seq(false, true)) withAqe(aqe) {
      def run(on: Boolean) = withFuse(on) {
        q().orderBy(col("sessions").desc, col("u").asc_nulls_first)
          .limit(15).collect().toSeq
      }
      val fusedPlan = withFuse(true) {
        val df = q().orderBy(col("sessions").desc, col("u").asc_nulls_first).limit(15)
        df.collect()
        df.queryExecution.executedPlan
      }
      def findFused(p0: org.apache.spark.sql.execution.SparkPlan): Boolean = {
        val p = p0 match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        val here = p.collect { case s: graft.plans.SessionCountExec => s }.nonEmpty
        here || p.collect {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
        }.exists(findFused)
      }
      assert(findFused(fusedPlan), s"aqe=$aqe: ${fusedPlan.toString.take(1500)}")
      assert(run(true) == run(false), s"aqe=$aqe")
    }
  }

  test("exact-gap boundary is NOT a session start (strict >)") {
    // two events exactly gap apart, one pair strictly over
    val df = spark.range(1).selectExpr("1L AS u")
      .selectExpr("u", "stack(3, timestamp_micros(0), 1L, timestamp_micros(100), 2L, timestamp_micros(201), 3L) AS (ts, eid)")
      .repartition(1, col("u")).sortWithinPartitions("u", "ts", "eid").cache()
    df.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("ts"), col("eid"))
    def cnt(on: Boolean) = withFuse(on) {
      df.withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev"))) > 100L)
        .groupBy(col("u")).agg(count(lit(1)).as("s")).collect().head.getLong(1)
    }
    assert(cnt(true) == 2L) // start + the 101-gap; the exact-100 gap is not
    assert(cnt(true) == cnt(false))
    df.unpersist()
  }

  test("int-typed bare ts declines in EVERY eval mode (32-bit wrap divergence)") {
    def withAnsi[A](on: Boolean)(f: => A): A = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", on.toString)
      try f finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    val df = spark.range(2000).selectExpr(
      "CAST(id % 23 AS INT) AS u",
      "CAST((id * 7919) % 1000 - 500 AS INT) AS tsi",
      "id AS eid")
      .repartition(3, col("u")).sortWithinPartitions("u", "tsi", "eid").cache()
    df.count()
    def q2(src: DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("tsi"), col("eid"))
      src.withColumn("prev", lag(col("tsi"), 1).over(w))
        .filter(col("prev").isNull || (col("tsi") - col("prev")) > 100)
        .groupBy(col("u")).agg(count(lit(1)).as("sessions"))
    }
    def fusedIn(p0: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      val p = p0 match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p.collect { case s: graft.plans.SessionCountExec => s }.nonEmpty || p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      }.exists(fusedIn)
    }
    // Non-ANSI: the unfused plan's 32-bit Subtract WRAPS at 2^31 while the
    // fused loop would compute the exact 64-bit difference — the rule must
    // decline so wrap semantics are preserved. ANSI: unfused raises on
    // overflow where the loop wraps — also decline.
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      val plan = withFuse(true) { val d = q2(df); d.collect(); d.queryExecution.executedPlan }
      assert(!fusedIn(plan), s"ansi=$ansi: ${plan.toString.take(1500)}")
    }
    // the wrap case the decline protects: MinValue→MaxValue gap wraps to
    // -1 in 32-bit (NOT a session start); an exact 64-bit diff (2^32-1)
    // would have counted 2 sessions
    withAnsi(false) {
      val wide = spark.range(1).selectExpr("1 AS u")
        .selectExpr("CAST(u AS INT) AS u",
          s"stack(2, CAST(${Int.MinValue} AS INT), 1L, CAST(${Int.MaxValue} AS INT), 2L) AS (tsi, eid)")
        .repartition(1, col("u")).sortWithinPartitions("u", "tsi", "eid")
      val out = withFuse(true) { q2(wide).collect() }
      assert(out.head.getLong(1) == 1L, out.mkString(","))
    }
    df.unpersist()
  }

  test("guards: sum aggregate, extra grouping key, non-gap filter decline") {
    withFuse(true) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("ts"), col("eid"))
      // a sum() aggregate is not the session-count shape
      val p1 = base.withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev"))) > 100L)
        .groupBy(col("u")).agg(sum(col("eid")).as("s"))
      p1.collect()
      assert(p1.queryExecution.executedPlan.collect {
        case s: graft.plans.SessionCountExec => s }.isEmpty)
      // an unrelated filter shape declines
      val p2 = base.withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("u")).agg(count(lit(1)).as("s"))
      p2.collect()
      assert(p2.queryExecution.executedPlan.collect {
        case s: graft.plans.SessionCountExec => s }.isEmpty)
    }
  }
}
