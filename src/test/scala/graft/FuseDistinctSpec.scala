package graft

import graft.plans.SingleDistinctPartialExec
import graft.rules.FuseSingleDistinct

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** rules/FuseSingleDistinct: ungrouped single count(DISTINCT) fuses into
  * the one-pass set + piggyback partial with a disjoint-bucket merge.
  * Differentials pin rule-on == rule-off across agg mixes, null/empty
  * edges, AQE on/off, and the columnar (cached) path.
  */
class FuseDistinctSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withRule[A](on: Boolean)(f: => A): A = withGraft("FuseSingleDistinct" -> on)(f)

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def hasFusedPartial(df: DataFrame): Boolean = {
    df.collect()
    flatten(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[SingleDistinctPartialExec])
  }

  private def sql(q: String): DataFrame = {
    Tables(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q)
  }

  private val h2oSql =
    """SELECT count(DISTINCT l_partkey) AS nd,
      | round(sum(l_quantity), 2) AS sv, count(*) AS n
      |FROM lineitem""".stripMargin

  test("h2o shape plans the fused partial and matches the stock plan") {
    val fused = withRule(on = true) { val d = sql(h2oSql); (hasFusedPartial(d), d.collect().toSeq) }
    val stock = withRule(on = false) { val d = sql(h2oSql); (hasFusedPartial(d), d.collect().toSeq) }
    assert(fused._1, "rewrite did not fire on the h2o count-distinct shape")
    assert(!stock._1)
    assert(fused._2 == stock._2)
  }

  test("all piggyback kinds + computed distinct expr match the stock plan") {
    val q =
      """SELECT count(DISTINCT l_suppkey % 97) AS nd,
        | count(*) AS n, count(l_returnflag) AS nc,
        | sum(l_quantity) AS sq, sum(l_linenumber) AS sl,
        | avg(l_extendedprice) AS ap, avg(l_partkey) AS ak,
        | min(l_discount) AS mn, max(l_discount) AS mx,
        | min(l_orderkey) AS ko, max(l_linenumber) AS kl
        |FROM lineitem WHERE l_orderkey % 3 = 0""".stripMargin
    val on = withRule(on = true) { val d = sql(q); assert(hasFusedPartial(d)); d.collect().toSeq }
    val off = withRule(on = false) { sql(q).collect().toSeq }
    // double sums re-associate across partials; compare with relative
    // tolerance (same noise any Spark double-sum repartitioning shows)
    assert(on.length == off.length)
    on.zip(off).foreach { case (a, b) =>
      (0 until a.length).foreach { i =>
        (a.get(i), b.get(i)) match {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"col $i: $x vs $y")
          case (x, y) => assert(x == y, s"col $i: $x vs $y")
        }
      }
    }
  }

  test("null and empty edges: empty input, all-null key, null piggy values") {
    import spark.implicits._
    Seq.empty[(Option[Long], Option[Double])].toDF("k", "v").createOrReplaceTempView("t_empty")
    Seq((Option.empty[Long], Option(1.0)), (None, None))
      .toDF("k", "v").createOrReplaceTempView("t_nullkey")
    Seq((Option(1L), Option.empty[Double]), (Some(1L), None), (Some(2L), Some(3.5)))
      .toDF("k", "v").createOrReplaceTempView("t_mixed")
    val q = "SELECT count(DISTINCT k) AS nd, sum(v) AS s, avg(v) AS a, " +
      "min(v) AS mn, max(v) AS mx, count(*) AS n, count(v) AS nv FROM "
    Seq("t_empty", "t_nullkey", "t_mixed").foreach { t =>
      // empty local relations may be folded away before the rewrite sees
      // them — only require the FIRE on non-empty inputs; results must
      // match either way
      val mustFire = t != "t_empty"
      val on = withRule(on = true) { val d = spark.sql(q + t); if (mustFire) assert(hasFusedPartial(d), t); d.collect().toSeq }
      val off = withRule(on = false) { spark.sql(q + t).collect().toSeq }
      assert(on == off, s"$t: $on vs $off")
    }
  }

  test("differential holds with AQE on and off, cached and uncached") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (aqe <- Seq("true", "false"); cache <- Seq(true, false)) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        Tables.cacheMode = cache
        val on = withRule(on = true) { val d = sql(h2oSql); assert(hasFusedPartial(d), s"aqe=$aqe cache=$cache"); d.collect().toSeq }
        val off = withRule(on = false) { sql(h2oSql).collect().toSeq }
        assert(on == off, s"aqe=$aqe cache=$cache")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Tables.cacheMode = false
    }
  }

  test("guards: shapes the rewrite must leave to Spark") {
    val noFire = Seq(
      // two distincts
      "SELECT count(DISTINCT l_partkey) AS a, count(DISTINCT l_suppkey) AS b FROM lineitem",
      // distinct agg that is not count
      "SELECT sum(DISTINCT l_partkey) AS s FROM lineitem",
      // grouped
      "SELECT l_returnflag AS f, count(DISTINCT l_partkey) AS n FROM lineitem GROUP BY l_returnflag",
      // string distinct key
      "SELECT count(DISTINCT l_returnflag) AS n FROM lineitem",
      // FILTER clause rides an agg
      "SELECT count(DISTINCT l_partkey) AS n, sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS s FROM lineitem",
      // unsupported piggyback (stddev)
      "SELECT count(DISTINCT l_partkey) AS n, stddev(l_quantity) AS sd FROM lineitem")
    withRule(on = true) {
      noFire.foreach { q =>
        val d = sql(q)
        assert(!hasFusedPartial(d), s"rewrite must not fire on: $q")
      }
    }
  }

  test("stats gate: sparse huge domains decline, dense ones keep fusing") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.MetadataBuilder
    val n = 10000L
    def annotated(minV: Long, maxV: Long, ndvLow: Long): DataFrame =
      spark.range(n)
        .select((col("id") * ((maxV - minV) / n) + minV).as("k"),
          (col("id") % 50).as("v"))
        .withMetadata("k", new MetadataBuilder()
          .putLong("graft.ndvLow", ndvLow)
          .putLong("graft.minVal", minV)
          .putLong("graft.maxVal", maxV)
          .putLong("graft.rowCount", n).build())
    // sparse hash-like domain: words ≈ ndv → 16 B × 10M > 32 MB → decline
    val sparse = annotated(Long.MinValue / 4, Long.MaxValue / 4, 10000000L)
      .agg(count_distinct(col("k")).as("u"), sum(col("v")).as("s"))
    assert(!hasFusedPartial(sparse), "sparse 10M-key domain must decline")
    // dense domain, same claimed ndv: words ≤ span/64 → tiny → keep fusing
    val dense = annotated(0L, 10000000L, 10000000L)
      .agg(count_distinct(col("k")).as("u"), sum(col("v")).as("s"))
    assert(hasFusedPartial(dense), "dense 10M-key domain must keep the fuse")
    // both arms still agree with the stock plan
    val on = withRule(on = true) { sparse.collect().toSeq }
    val off = withRule(on = false) { sparse.collect().toSeq }
    assert(on == off)
  }

  test("guarded shapes still compute correctly vs rule-off") {
    val q = "SELECT count(DISTINCT l_partkey) AS n, " +
      "(SELECT count(DISTINCT o_custkey) FROM orders) AS oc FROM lineitem"
    Tables(spark, sf, "orders").createOrReplaceTempView("orders")
    val on = withRule(on = true) { sql(q).collect().toSeq }
    val off = withRule(on = false) { sql(q).collect().toSeq }
    assert(on == off)
  }
}
