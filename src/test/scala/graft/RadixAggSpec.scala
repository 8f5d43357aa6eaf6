package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rules/RadixShuffleAgg + plans/RadixAgg: single-int/long-key shuffled
  * aggregation runs as a radix-bucketed packed-state plan, result-
  * identical to Spark's partial→exchange→final (NULL keys, NULL inputs,
  * every supported slot type), and unsupported shapes keep Spark's plan.
  * Aggregate inputs are small exact-in-double integers so the
  * differential compare is exact despite reordered FP addition.
  */
class RadixAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def data() = spark.range(50000).selectExpr(
    "CASE WHEN id % 97 = 0 THEN NULL ELSE id % 1000 END AS k",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 7 AS DOUBLE) END AS d",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE id % 5 END AS l")

  private def query() = data().groupBy("k").agg(
    count(lit(1)).as("n"), count(col("d")).as("nd"),
    sum(col("d")).as("sd"), sum(col("l")).as("sl"),
    avg(col("l")).as("al"),
    min(col("d")).as("mnd"), max(col("d")).as("mxd"),
    min(col("l")).as("mnl"), max(col("l")).as("mxl"))

  private def withAqe[A](on: Boolean)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("single long key plans the radix aggregate, no HashAggregate pair") {
    withAqe(false) {
      val q = query()
      val plan = q.queryExecution.executedPlan
      assert(plan.collect { case r: graft.plans.RadixFinalAggExec => r }.nonEmpty,
        plan.toString.take(2000))
      assert(plan.collect { case r: graft.plans.RadixPartialAggExec => r }.nonEmpty)
      assert(plan.collect { case h: HashAggregateExec => h }.isEmpty)
    }
  }

  test("results identical to the Spark plan, AQE on and off, incl. NULL key group") {
    def run(): Seq[Row] =
      query().orderBy(col("k").asc_nulls_first).collect().toSeq
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val on = run()
      val off = withGraft("RadixShuffleAgg" -> false)(run())
      assert(on.size == 1000 + 1) // 0..999 plus the NULL-key group
      assert(on == off, s"aqe=$aqe first diff: ${
        on.zip(off).find { case (a, b) => a != b }}")
    }
  }

  test("empty input yields no groups") {
    withAqe(false) {
      val q = data().where("k < -1").groupBy("k").agg(sum(col("d")).as("sd"))
      assert(q.queryExecution.executedPlan.collect {
        case r: graft.plans.RadixFinalAggExec => r }.nonEmpty)
      assert(q.collect().isEmpty)
    }
  }

  test("unsupported shapes keep Spark's aggregate") {
    withAqe(false) {
      // string key
      val sKey = spark.range(100).selectExpr("CAST(id % 3 AS STRING) AS s", "id")
        .groupBy("s").agg(sum(col("id")).as("x"))
      assert(sKey.queryExecution.executedPlan.collect {
        case r: graft.plans.RadixFinalAggExec => r }.isEmpty)
      // DISTINCT aggregate
      val dist = data().groupBy("k").agg(countDistinct(col("l")).as("x"))
      assert(dist.queryExecution.executedPlan.collect {
        case r: graft.plans.RadixFinalAggExec => r }.isEmpty)
      // FILTER clause
      val filt = data().groupBy("k")
        .agg(expr("sum(l) FILTER (WHERE d > 2)").as("x"))
      assert(filt.queryExecution.executedPlan.collect {
        case r: graft.plans.RadixFinalAggExec => r }.isEmpty)
      // two grouping keys
      val two = data().groupBy("k", "l").agg(sum(col("d")).as("x"))
      assert(two.queryExecution.executedPlan.collect {
        case r: graft.plans.RadixFinalAggExec => r }.isEmpty)
    }
  }

  test("single-distinct plan: inner PartialMerge level runs radix, results identical") {
    // count(DISTINCT k) + ridealong aggs: Spark's rewrite plans
    // group-by-k partial → exchange → PartialMerge, which the rule
    // replaces in buffer mode. Distinct count + sums must survive the
    // disjoint-bucket repartitioning, NULL keys excluded from the count.
    def q() = data().agg(
      countDistinct(col("k")).as("nd"),
      sum(col("d")).as("sd"), count(lit(1)).as("n"),
      avg(col("l")).as("al"), max(col("d")).as("mx"))
    // FuseSingleDistinct normally claims this ungrouped shape first;
    // disable it here so Spark's two-level distinct plan (the radix
    // rule's PartialMerge target, still the path for GROUPED single
    // distincts) stays exercised
    withGraft("FuseSingleDistinct" -> false) {
      for (aqe <- Seq(true, false)) withAqe(aqe) {
        val on = q().collect().toSeq
        val off = withGraft("RadixShuffleAgg" -> false)(q().collect().toSeq)
        assert(on == off, s"aqe=$aqe on=$on off=$off")
      }
      withAqe(false) {
        val plan = q().queryExecution.executedPlan
        assert(plan.collect { case r: graft.plans.RadixFinalAggExec if r.bufferMode => r }.nonEmpty,
          plan.toString.take(2000))
      }
    }
  }

  test("date key and flush-path blobs merge correctly") {
    withAqe(false) {
      val d = spark.range(20000).selectExpr(
        "date_add(DATE'2000-01-01', CAST(id % 400 AS INT)) AS dt",
        "id % 9 AS v")
      def run(): Seq[Row] =
        d.groupBy("dt").agg(sum(col("v")).as("sv"), max(col("v")).as("mx"))
          .orderBy("dt").collect().toSeq
      val on = run()
      val off = withGraft("RadixShuffleAgg" -> false)(run())
      assert(on.size == 400 && on == off)
    }
  }
}
