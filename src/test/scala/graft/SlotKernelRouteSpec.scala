package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** plans/SlotKernel on every route: each primitive slot kind (count with
  * 0/1/2 null-checked inputs, long and double sums, avg, long/double
  * min/max incl. NaN and -0.0, the four variance/stddev kinds incl. n==1
  * groups, both covariances, a FILTER fold, ANSI long-sum overflow) runs
  * through the driver-finalized, sorted-run and packed aggregates; the
  * packed route twice, over one long key ("radix", the radix-partitioned
  * single-key case) and over a (long, string) key ("packed").
  * Each case asserts the route's exec is in the executed plan and that
  * its rows equal stock Spark's with the graft aggregate routes off.
  * The packed cases run with a small flush cap, so every partition
  * ships several blobs per group and the blob merge runs.
  */
class SlotKernelRouteSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `k` clusters the input (sorted-run prefix), `g` is the long group
    * key (with NULLs), `s` the string key; one appended row forms an
    * n==1 group. `dn` carries NaN and -0.0 for min/max.
    */
  private def raw(): DataFrame = spark.range(20000).selectExpr(
    "CAST(id % 50 AS INT) AS k",
    "CASE WHEN id % 101 = 0 THEN NULL ELSE id % 23 END AS g",
    "concat('s', id % 7) AS s",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE (id * 7) % 1000 - 300 END AS x",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 9 END AS y",
    "CASE WHEN id % 17 = 0 THEN NULL ELSE CAST((id * 3) % 97 AS DOUBLE) / 4 END AS d",
    "CASE WHEN id % 19 = 0 THEN NULL ELSE CAST((id * 5) % 89 AS DOUBLE) END AS e",
    "CASE WHEN id % 29 = 0 THEN CAST('NaN' AS DOUBLE) WHEN id % 31 = 0 THEN -0.0D " +
      "WHEN id % 37 = 0 THEN NULL ELSE CAST(id % 41 AS DOUBLE) - 20 END AS dn")
    .union(spark.sql("SELECT 7, 1000L, 'lone', 5L, 1L, 2.5D, 3.0D, 1.0D"))

  /** Clustered by `k` and cached: a columnar scan with a `k` ordering. */
  private lazy val table: DataFrame = {
    val df = raw().repartition(4, col("k")).sortWithinPartitions("k").cache()
    df.count()
    df
  }

  /** Long sums past Long.MaxValue, clustered and cached like `table`. */
  private lazy val bigTable: DataFrame = {
    val df = spark.range(60).selectExpr(
      "CAST(id % 5 AS INT) AS k", "id % 3 AS g", "concat('s', id % 2) AS s",
      "9223372036854775000 + id AS x")
      .repartition(4, col("k")).sortWithinPartitions("k").cache()
    df.count()
    df
  }

  /** Stock Spark: every graft aggregate route off. */
  private def stock[A](f: => A): A = withGraft("PackedShuffleAgg" -> false,
    "SortedRunAggRule" -> false, "BoundedKeyDriverAgg" -> false)(f)

  private def withSmallFlush[A](f: => A): A = withConf("spark.graft.agg.flushGroups" -> "8")(f)

  private final case class Route(name: String, keys: Seq[String],
      present: SparkPlan => Boolean) {
    def grouped(t: DataFrame, aggs: Seq[Column]): DataFrame =
      t.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    /** The routed query (the driver route goes through DriverAgg.lowCard). */
    def routed(t: DataFrame, aggs: Seq[Column]): DataFrame =
      if (name == "driver")
        graft.plans.DriverAgg.lowCard(grouped(t, aggs), keys.map(col))
      else grouped(t, aggs)
  }

  private val routes = Seq(
    Route("driver", Seq("g"),
      _.collect { case e: graft.plans.DriverGroupAggExec => e }.nonEmpty),
    Route("radix", Seq("g"),
      _.collect { case e: graft.plans.PackedFinalAggExec if e.keyAttrs.length == 1 => e }.nonEmpty),
    Route("sorted-run", Seq("k", "g"),
      _.collect { case e: graft.plans.SortedRunAggExec => e }.nonEmpty),
    Route("packed", Seq("g", "s"),
      _.collect { case e: graft.plans.PackedFinalAggExec => e }.nonEmpty))

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  private def assertSameRows(on: Seq[Row], off: Seq[Row], what: String): Unit = {
    assert(on.size == off.size, s"$what: ${on.size} vs ${off.size} rows")
    on.zip(off).foreach { case (a, b) =>
      assert(a.length == b.length && a.toSeq.zip(b.toSeq).forall { case (x, y) => same(x, y) },
        s"$what: $a vs stock $b")
    }
  }

  /** Routed rows equal stock rows, and the route's exec is planned. */
  private def check(route: Route, aggs: Seq[Column],
      t: => DataFrame = table): Unit = withConf("spark.sql.adaptive.enabled" -> "false") {
    withSmallFlush {
      val q = route.routed(t, aggs)
      val plan = q.queryExecution.executedPlan
      assert(route.present(plan), s"${route.name} not routed:\n${plan.toString.take(3000)}")
      assertSameRows(sortedRows(q), stock(sortedRows(route.grouped(t, aggs))), route.name)
    }
  }

  private val cases: Seq[(String, Seq[Column])] = Seq(
    "count with 0, 1 and 2 null-checked inputs" -> Seq(
      count(lit(1)).as("n"), count(col("x")).as("nx"), expr("count(x, y)").as("nxy")),
    "sumL" -> Seq(sum(col("x")).as("sx"), sum(col("y")).as("sy")),
    "sumD and avg" -> Seq(sum(col("d")).as("sd"), avg(col("d")).as("ad"),
      avg(col("x")).as("ax")),
    "min/max over longs and doubles incl. NaN and -0.0" -> Seq(
      min(col("x")).as("mnx"), max(col("x")).as("mxx"),
      min(col("dn")).as("mnd"), max(col("dn")).as("mxd")),
    "var/stddev, all four kinds, incl. n==1 groups" -> Seq(
      expr("stddev_samp(d)").as("ss"), expr("stddev_pop(d)").as("sp"),
      expr("var_samp(e)").as("vs"), expr("var_pop(e)").as("vp")),
    "covar_samp and covar_pop" -> Seq(
      expr("covar_samp(d, e)").as("cs"), expr("covar_pop(d, e)").as("cp")),
    "FILTER fold" -> Seq(
      expr("sum(x) FILTER (WHERE y > 3)").as("sf"),
      expr("count(*) FILTER (WHERE d > 10.0)").as("cf"),
      expr("stddev(d) FILTER (WHERE e IS NOT NULL)").as("sdf")))

  for (route <- routes; (name, aggs) <- cases) {
    test(s"${route.name}: $name")(check(route, aggs))
  }

  for (route <- routes) {
    test(s"${route.name}: sumL overflow raises under ANSI on both sides, wraps without") {
      val aggs = Seq(sum(col("x")).as("sx"))
      withConf("spark.sql.ansi.enabled" -> "true", "spark.sql.adaptive.enabled" -> "false") {
        withSmallFlush {
          val q = route.routed(bigTable, aggs)
          assert(route.present(q.queryExecution.executedPlan))
          def overflow(f: => Any): Boolean = {
            val t = intercept[Throwable](f)
            Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
              .exists(_.isInstanceOf[ArithmeticException])
          }
          assert(overflow(q.collect()), s"${route.name} did not raise")
          assert(overflow(stock(route.grouped(bigTable, aggs).collect())))
        }
      }
      withConf("spark.sql.ansi.enabled" -> "false") {
        check(route, aggs, t = bigTable)
      }
    }
  }
}
