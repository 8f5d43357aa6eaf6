package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential gate for the streaming lag-window operator: identical
  * results to Spark's WindowExec on random multi-partition data, for
  * k=1..3 offsets, defaults, boundary users, and a no-partition window;
  * plus a plan pin that the gated sessionize query actually uses it and
  * that non-lag windows are left alone.
  */
class StreamingWindowSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withRule[T](on: Boolean)(body: => T): T = withGraft("StreamingWindow" -> on)(body)

  private lazy val df = {
    import spark.implicits._
    // deterministic "random": multiplicative hash; includes single-row
    // users and a null-valued column
    (1 to 5000).map { i =>
      val u = (i * 2654435761L % 37).toInt
      val v: java.lang.Long = if (i % 11 == 0) null else (i * 131L % 1000)
      (u, i, v, s"s${i % 17}")
    }.toDF("user", "seq", "v", "tag").repartition(7, col("user"))
  }

  test("streaming lag == WindowExec on multi-partition data (k=1..3, defaults)") {
    val w = Window.partitionBy(col("user")).orderBy(col("seq"))
    def run() = df.select(col("user"), col("seq"),
        lag(col("v"), 1).over(w).as("l1"),
        lag(col("v"), 2, -1).over(w).as("l2_def"),
        lag(col("tag"), 3).over(w).as("l3s"))
      .orderBy(col("user"), col("seq"))
      .collect().map(_.toString).toSeq
    val streaming = withRule(on = true)(run())
    val builtin = withRule(on = false)(run())
    assert(streaming == builtin)
  }

  test("streaming lag == WindowExec with empty partitionSpec (global window)") {
    val w = Window.orderBy(col("seq"))
    def run() = df.select(col("seq"), lag(col("v"), 1).over(w).as("l1"))
      .orderBy(col("seq")).collect().map(_.toString).toSeq
    assert(withRule(on = true)(run()) == withRule(on = false)(run()))
  }

  // the injected columnar rule runs per-stage under AQE, so plan pins
  // inspect the non-adaptive plan (the execution path is identical)
  private def withAqeOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("row_number + running sum + lag in one node == WindowExec") {
    val w = Window.partitionBy(col("user")).orderBy(col("seq"))
    def run() = df.select(col("user"), col("seq"),
        row_number().over(w).as("rn"),
        sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_sum"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_n"),
        min(col("tag")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_min"),
        lag(col("v"), 1).over(w).as("l1"))
      .orderBy(col("user"), col("seq"))
      .collect().map(_.toString).toSeq
    val streaming = withRule(on = true)(run())
    val builtin = withRule(on = false)(run())
    assert(streaming == builtin)
  }

  test("sessionize and rank/running-total queries plan the streaming operator") {
    val plan = withAqeOff(withRule(on = true)(
      SparkEntry.queries("window_rank_running")(spark, sf).queryExecution.executedPlan))
    assert(plan.collect {
      case s: graft.plans.StreamingWindowExec => s }.nonEmpty, plan.toString.take(1500))
    // sessionize fuses PAST the streaming window into the session-count
    // loop (rules/SessionCountRule); with that fuse off it still plans
    // the streaming window
    val fused = withAqeOff(withRule(on = true)(
      SparkEntry.queries("events_sessionize_lag")(spark, sf).queryExecution.executedPlan))
    assert(fused.collect {
      case s: graft.plans.SessionCountExec => s }.nonEmpty, fused.toString.take(1500))
    withGraft("SessionCountRule" -> false) {
      val unfused = withAqeOff(withRule(on = true)(
        SparkEntry.queries("events_sessionize_lag")(spark, sf).queryExecution.executedPlan))
      assert(unfused.collect {
        case s: graft.plans.StreamingWindowExec => s }.nonEmpty, unfused.toString.take(1500))
    }
  }

  test("object-typed running aggregates are correct over reused cache rows") {
    // regression: the aggregate buffer's update projection stores
    // UTF8String values BY REFERENCE; over a ColumnarToRow child (row
    // object reused per batch) the retained min/max was silently
    // overwritten by later rows. A pre-clustered cached table satisfies
    // the window's distribution+ordering, so no SortExec materializes
    // rows in between — exactly the warm-path shape the bug needed.
    val cached = df.repartition(7, col("user"))
      .sortWithinPartitions(col("user"), col("seq")).persist()
    try {
      cached.count()
      val w = Window.partitionBy(col("user")).orderBy(col("seq"))
      def run() = cached.select(col("user"), col("seq"),
          min(col("tag")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("rmin"),
          max(col("tag")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("rmax"))
        .orderBy(col("user"), col("seq"))
        .collect().map(_.toString).toSeq
      // pin the shape: streaming operator present, no sort under it
      val plan = withAqeOff(withRule(on = true)(
        cached.select(min(col("tag")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
          .queryExecution.executedPlan))
      val sw = plan.collect { case s: graft.plans.StreamingWindowExec => s }
      assert(sw.nonEmpty, plan.toString.take(1500))
      assert(sw.head.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        plan.toString.take(1500))
      assert(withRule(on = true)(run()) == withRule(on = false)(run()))
    } finally cached.unpersist()
  }

  test("streaming window output survives a Sort/Exchange directly above it") {
    // regression: the operator emitted raw JoinedRows; SortExec and
    // ShuffleExchangeExec cast their input to UnsafeRow, so a second
    // window spec with a different ordering (sort directly above the
    // replaced node) threw ClassCastException at runtime.
    val w1 = Window.partitionBy(col("user")).orderBy(col("seq"))
    val w2 = Window.orderBy(col("seq"), col("user"))
    def run() = df.select(col("user"), col("seq"),
        sum(col("v")).over(w1.rowsBetween(Window.unboundedPreceding, 0)).as("rsum"),
        min(col("tag")).over(w1.rowsBetween(Window.unboundedPreceding, 0)).as("rmin"))
      .withColumn("rk", row_number().over(w2))
      .orderBy(col("user"), col("seq"))
      .collect().map(_.toString).toSeq
    val streaming = withRule(on = true)(run())
    val builtin = withRule(on = false)(run())
    assert(streaming == builtin)
  }

  test("lead and IGNORE NULLS lag stay on WindowExec") {
    val w = Window.partitionBy(col("user")).orderBy(col("seq"))
    val leadPlan = withAqeOff(withRule(on = true)(
      df.select(lead(col("v"), 1).over(w)).queryExecution.executedPlan))
    assert(leadPlan.collect {
      case s: graft.plans.StreamingWindowExec => s }.isEmpty)
    val inPlan = withAqeOff(withRule(on = true)(
      df.select(lag(col("v"), 1, null, true).over(w)).queryExecution.executedPlan))
    assert(inPlan.collect {
      case s: graft.plans.StreamingWindowExec => s }.isEmpty)
  }
}
