package graft

import org.scalatest.funsuite.AnyFunSuite

/** rules/FastPercentileRule + functions/FastPercentileAgg: exact
  * percentile with unit frequency routes through the flat-array kernel
  * and is value-identical to Spark's Percentile across NULL inputs,
  * empty groups, single-element groups, ties, int/double children, the
  * array-percentage form, and shuffled (partial/final) execution.
  * Non-unit frequency and non-foldable percentages keep Spark's.
  */
class FastPercentileSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fixture() = spark.range(100000).selectExpr(
    "id % 97 AS g",
    // nulls, ties, negative values
    "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 523 AS DOUBLE) - 50 END AS v",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 37 AS INT) END AS vi")

  private def ab[A](q: => A): (A, A) =
    (withGraft("FastPercentileRule" -> true)(q), withGraft("FastPercentileRule" -> false)(q))

  test("grouped percentile: fast kernel routes and matches stock exactly") {
    val df = fixture()
    df.createOrReplaceTempView("fp_src")
    def q() = spark.sql(
      """SELECT g, percentile(v, 0.5) AS med, percentile(vi, 0.25) AS q1,
        |  percentile(v, array(0.0, 0.37, 1.0)) AS qs
        |FROM fp_src GROUP BY g ORDER BY g""".stripMargin)
    // rule fires
    val plan = withGraft("FastPercentileRule" -> true)(q().queryExecution.optimizedPlan.toString)
    assert(plan.contains("fast_percentile"), plan.take(1500))
    val (fast, stock) = ab(q().collect().map(_.toString).toSeq)
    assert(fast == stock)
  }

  test("empty and single-row groups, global aggregate, NULL-only group") {
    spark.range(10).selectExpr("id AS g",
      "CASE WHEN id < 2 THEN CAST(id AS DOUBLE) ELSE NULL END AS v")
      .createOrReplaceTempView("fp_edge")
    def q() = spark.sql(
      """SELECT percentile(v, 0.5) AS m,
        |  percentile(v, array(0.5, 0.9)) AS ms
        |FROM fp_edge WHERE g > 5""".stripMargin)
    val (fast, stock) = ab(q().collect().map(_.toString).toSeq)
    assert(fast == stock) // both NULL on the all-null slice
    def q2() = spark.sql("SELECT g, percentile(v, 0.5) FROM fp_edge GROUP BY g ORDER BY g")
    val (f2, s2) = ab(q2().collect().map(_.toString).toSeq)
    assert(f2 == s2)
  }

  test("non-unit frequency and non-foldable percentage keep Spark's Percentile") {
    spark.range(100).selectExpr("id % 3 AS g", "CAST(id AS DOUBLE) AS v",
      "CAST(1 + id % 2 AS BIGINT) AS f", "0.5 + (id % 2) * 0.0 AS p")
      .createOrReplaceTempView("fp_keep")
    val freq = spark.sql(
      "SELECT g, percentile(v, 0.5, f) AS m FROM fp_keep GROUP BY g")
    assert(!freq.queryExecution.optimizedPlan.toString.contains("fast_percentile"))
    freq.collect() // still runs
  }

  test("h2o_g06 shape: gate query matches oracle semantics with the kernel on") {
    // the gated h2o_g06 runs through SparkEntry with the rule active and
    // is oracle-compared by Verify; here pin just that the rule fires
    val df = SparkEntry.queries("h2o_g06")(spark, sf)
    assert(df.queryExecution.optimizedPlan.toString.contains("fast_percentile"))
    assert(df.count() > 0)
  }
}
