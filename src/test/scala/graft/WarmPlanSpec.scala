package graft

import org.apache.spark.sql.execution.{ColumnarToRowExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the warm-engine (cacheMode) plan shapes the round-2 performance
  * layer provides — regressions here silently re-introduce shuffles/sorts
  * the clustered cache exists to eliminate. Assertions walk the plan TREE
  * (the cache-build plan inside InMemoryRelation's string rendering
  * legitimately contains the clustering exchange; the query tree must not).
  */
class WarmPlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def warmPlan(name: String, aqe: Boolean = true): SparkPlan = {
    Tables.cacheMode = true
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    if (!aqe) spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Tables.cacheMode = false
    }
  }

  test("clustered orders cache: window query plans no exchange and no extra sort") {
    val plan = warmPlan("window_rank_running")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString.take(1500))
    // the cache is sorted on (o_custkey, o_orderdate, o_orderkey): the
    // window's required ordering is satisfied without a SortExec
    assert(plan.collect { case s: SortExec => s }.isEmpty, plan.toString.take(1500))
  }

  test("clustered events cache: sessionization plans no exchange") {
    val plan = warmPlan("events_sessionize_lag")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString.take(1500))
  }

  test("clustered lineitem cache: q3 aggregation after broadcast joins is exchange-free") {
    val plan = warmPlan("q3_shipping_priority")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString.take(1500))
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(1500))
  }

  test("warm cache scans serve columnar batches (ColumnarToRow over the cache scan)") {
    val plan = warmPlan("q1_pricing_summary", aqe = false)
    // the cache must serve BATCHES: either through the generic
    // ColumnarToRow transition, or — since the r12 ndv-slack fix routes
    // q1's 3×2 string keys to the driver aggregate — consumed directly
    // by DriverGroupAggExec's packed partial in its batch loop
    // (columnarChild), which is the stronger form of the same property
    // (no row transition at all)
    val transition = plan.collect { case c: ColumnarToRowExec => c }.nonEmpty
    val batchDirect = plan.collect {
      case d: graft.plans.DriverGroupAggExec if (d.child match {
        case p: graft.plans.PackedPartialAggExec => p.columnarChild
        case _ => false
      }) => d
    }.nonEmpty
    assert(transition || batchDirect, plan.toString.take(1500))
    assert(plan.collect { case i: InMemoryTableScanExec => i }.nonEmpty, plan.toString.take(1500))
  }

  test("dimension broadcasts come from the cross-execution broadcast cache") {
    val plan = warmPlan("q5_local_supplier", aqe = false)
    val cached = plan.collect { case c: graft.plans.CachedBroadcastExec => c }
    assert(cached.nonEmpty, plan.toString.take(2000))
  }

  test("every driver-final aggregate runs the packed partial in driver mode") {
    // the queries the driver route serves in the headline, h2o and olap
    // suites: each plans a DriverGroupAggExec directly over a driver-mode
    // PackedPartialAggExec (one partial; the driver merge is its sink)
    def driverRouted(name: String, plan: SparkPlan): Unit = {
      val ds = plan.collect { case d: graft.plans.DriverGroupAggExec => d }
      assert(ds.nonEmpty, s"$name: ${plan.toString.take(1500)}")
      ds.foreach(d => assert(d.child match {
        case p: graft.plans.PackedPartialAggExec => p.driverFinal.isDefined
        case _ => false
      }, s"$name: ${d.treeString.take(1500)}"))
    }
    Seq("q1_pricing_summary", "q5_local_supplier", "events_tumbling_1h",
        "cb_date_histogram", "cb_like_distinct", "cb_like_group_min")
      .foreach(n => driverRouted(n, warmPlan(n, aqe = false)))
    // h2o over its gate fixture, warm (the cache's ndv stats prove the
    // keys bounded, as in the h2o benchmark)
    graft.sources.H2oFixture.ensureGate(spark)
    withAqe(false) {
      try {
        Suites("h2o").register(spark, graft.sources.H2oFixture.gateDir)
        val texts = queries.H2oBoard.texts.toMap
        Seq("h2o_g01", "h2o_g03", "h2o_g04", "h2o_g05", "h2o_g07").foreach { n =>
          driverRouted(n, spark.sql(texts(n)).queryExecution.executedPlan)
        }
      } finally {
        Tables.cacheMode = false
        // H2oBoard re-registers its parquet views when these are gone
        graft.sources.H2oFixture.tables.foreach { t =>
          spark.catalog.dropTempView(if (t == "x") "h2o_x" else t)
        }
      }
    }
  }
}
