package graft

import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rules/CollapsePartialAggregate: an exchange-free partial→final pair
  * over the clustered cache collapses to ONE Complete-mode aggregate
  * (plan shape pinned), with results — FILTER clauses included, the
  * round-6 near-miss — identical to the rule-off plan.
  */
class CollapseAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def aggs(plan: org.apache.spark.sql.execution.SparkPlan): Seq[HashAggregateExec] =
    plan.collect { case h: HashAggregateExec => h }

  /** Warm cache + AQE off: the executed plan is then a plain tree (AQE
    * hides stages behind QueryStageExec leaves that `collect` cannot
    * cross; the rule itself runs identically in both modes — the
    * differential test below covers the AQE path).
    */
  private def withWarm[A](f: => A): A = {
    Tables.cacheMode = true
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Tables.cacheMode = false
    }
  }

  test("groupBy on the cluster key plans one Complete aggregate, no exchange") {
    withWarm {
      val df = Tables(spark, sf, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      df.collect() // AQE: finalize stages so the executed plan is real
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        plan.toString.take(1500))
      // the collapse yields one Complete-mode aggregate; over the SORTED
      // clustered cache the sorted-run rule then takes it one step
      // further into the streaming run aggregate — either is the
      // exchange-free single-pass shape this spec pins
      val hs = aggs(plan)
      val runAggs = plan.collect { case s: graft.plans.SortedRunAggExec => s }
      assert(hs.length + runAggs.length == 1,
        s"expected one collapsed/run aggregate, got:\n$plan")
      assert(hs.forall(_.aggregateExpressions.forall(
        _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete)))
    }
  }

  test("collapsed aggregate keeps FILTER clauses and matches the uncollapsed result") {
    def run(): Seq[org.apache.spark.sql.Row] = withWarm {
      Tables(spark, sf, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_all"),
          expr("sum(l_quantity) FILTER (WHERE l_returnflag = 'R')").as("q_r"),
          expr("count(*) FILTER (WHERE l_discount > 0.05)").as("n_disc"))
        .orderBy(col("l_orderkey"))
        .collect().toSeq
    }
    val on = run()
    val off = withGraft("CollapsePartialAggregate" -> false)(run())
    assert(on == off)
    // filters really filtered: a FILTER'd count must undercut the plain one
    assert(on.exists(r => r.getLong(r.length - 1) < r.getLong(1).max(1L)) ||
      on.forall(r => r.getLong(r.length - 1) <= r.getLong(1)))
  }

  test("a shuffled aggregation is left alone") {
    // cold path: the parquet scan carries no useful partitioning, so the
    // exchange stays and with it the partial→final pair (at sf0.001 the
    // warm cache is a single partition, where collapsing IS correct).
    // PackedShuffleAgg is off here: this test pins that the COLLAPSE rule
    // does not touch cross-exchange pairs (the packed rule handling them
    // is PackedAggSpec's subject).
    withConf("spark.sql.adaptive.enabled" -> "false") { withGraft("PackedShuffleAgg" -> false) {
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .repartition(4) // round-robin: satisfies no grouping distribution
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("q"))
      val hs = aggs(df.queryExecution.executedPlan)
      assert(hs.length == 2, s"partial+final expected across the exchange: ${hs.length}")
      assert(hs.exists(_.aggregateExpressions.forall(
        _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)))
      assert(df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.nonEmpty)
    } }
  }
}
