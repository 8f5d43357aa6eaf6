package graft

import graft.plans.DriverGroupAggPlan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

/** The auto-routing rule for provably-low-cardinality grouped
  * aggregation: fires only with a cardinality proof (column day-range
  * metadata or an intrinsic calendar domain), produces the exact rows of
  * the shuffled plan, and survives LYING statistics through the runtime
  * valve (fallback re-run), never through a wrong answer.
  */
class BoundedDriverAggSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def dayMeta(minDay: Long, maxDay: Long) = new MetadataBuilder()
    .putLong("graft.minDay", minDay).putLong("graft.maxDay", maxDay).build()

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case p: DriverGroupAggPlan => p
    }.nonEmpty

  private def offRows(df: => DataFrame): Seq[String] =
    withGraft("BoundedKeyDriverAgg" -> false)(df.collect().toSeq.map(_.toString))

  // ~26 months of hourly-ish timestamps, some NULLs
  private lazy val facts: DataFrame = spark.range(0, 20000)
    .select(
      when(col("id") % 97 =!= 0,
        timestamp_micros(lit(820454400000000L) + col("id") * 3456000000L))
        .as("ts"),
      (col("id") % 7).cast("double").as("v"))

  // cache() puts an InMemoryRelation boundary under the aggregate — the
  // same shape Tables serves warm — so the metadata'd column survives as
  // a leaf attribute instead of being inlined by CollapseProject
  private def withStats(df: DataFrame): DataFrame =
    df.withMetadata("ts", dayMeta(9131, 9931)).cache()

  test("month histogram with day-range metadata routes to the driver agg") {
    withStats(facts).createOrReplaceTempView("bd_facts")
    val q = spark.sql(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS m, count(*) AS n,
        | round(sum(v), 2) AS s
        |FROM bd_facts GROUP BY 1 ORDER BY m""".stripMargin)
    assert(fired(q), "expected DriverGroupAggPlan in the optimized plan")
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS m, count(*) AS n,
        | round(sum(v), 2) AS s
        |FROM bd_facts GROUP BY 1 ORDER BY m""".stripMargin)))
  }

  test("no metadata, no intrinsic bound: stays on the shuffled plan") {
    facts.createOrReplaceTempView("bd_nometa")
    val q = spark.sql(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS m, count(*) AS n
        |FROM bd_nometa GROUP BY 1 ORDER BY m""".stripMargin)
    assert(!fired(q))
  }

  test("intrinsic calendar domain (month extract) fires without metadata") {
    facts.createOrReplaceTempView("bd_intrinsic")
    val q = spark.sql(
      """SELECT month(ts) AS mo, count(*) AS n
        |FROM bd_intrinsic GROUP BY 1 ORDER BY mo""".stripMargin)
    assert(fired(q))
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(
      """SELECT month(ts) AS mo, count(*) AS n
        |FROM bd_intrinsic GROUP BY 1 ORDER BY mo""".stripMargin)))
  }

  test("an unbounded second key vetoes the route") {
    withStats(facts).createOrReplaceTempView("bd_twokey")
    val q = spark.sql(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS m, v, count(*) AS n
        |FROM bd_twokey GROUP BY 1, 2 ORDER BY m, v""".stripMargin)
    assert(!fired(q))
  }

  test("lying metadata: the runtime valve falls back, rows stay exact") {
    // > 64k distinct hour buckets, but stats claim a 27-day span — the
    // rule fires on the (wrong) proof, the exec's maxGroups valve trips
    // mid-scan and the retained shuffled plan re-runs
    val wide = spark.range(0, 70000)
      .select(timestamp_micros(col("id") * 3600000000L).as("ts"),
        lit(1.0).as("v"))
      .withMetadata("ts", dayMeta(0, 25)).cache()
    wide.createOrReplaceTempView("bd_lying")
    val sql =
      """SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |FROM bd_lying GROUP BY 1 ORDER BY h LIMIT 10""".stripMargin
    val q = spark.sql(sql)
    assert(fired(q), "the lying stats should route to the driver agg")
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(sql)))
  }

  test("NDV metadata on a string key fires, incl. above a join") {
    val dim = spark.range(0, 1000)
      .select((col("id") % 5).cast("string").as("k"), col("id").as("fk"),
        (col("id") % 13).cast("double").as("w"))
      .withMetadata("k", new MetadataBuilder().putLong("graft.ndvBound", 6L).build())
      .cache()
    dim.createOrReplaceTempView("bd_dim")
    val plain = "SELECT k, count(*) AS n FROM bd_dim GROUP BY k ORDER BY k"
    val q = spark.sql(plain)
    assert(fired(q))
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(plain)))
    // the metadata rides the attribute through a self-join
    val joined =
      """SELECT a.k AS k, count(*) AS n, round(sum(b.w), 2) AS s
        |FROM bd_dim a JOIN bd_dim b ON a.fk = b.fk
        |GROUP BY a.k ORDER BY a.k""".stripMargin
    val qj = spark.sql(joined)
    assert(fired(qj), "ndv bound should survive the join")
    assert(qj.collect().toSeq.map(_.toString) == offRows(spark.sql(joined)))
  }

  test("SELECT DISTINCT alias: group key grounds through its own result alias") {
    // DISTINCT over an alias groups on the aggregate's own output
    // attribute — the qds_dim_self_count warm crash shape
    val dim = spark.range(0, 500)
      .select((col("id") % 4).cast("string").as("k"))
      .withMetadata("k", new MetadataBuilder().putLong("graft.ndvBound", 5L).build())
      .cache()
    dim.createOrReplaceTempView("bd_distinct_alias")
    val sql = "SELECT DISTINCT k AS kk FROM bd_distinct_alias ORDER BY kk LIMIT 3"
    val q = spark.sql(sql)
    assert(fired(q))
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(sql)))
  }

  test("bounded count(DISTINCT) carries an exact set slot and matches") {
    val dim = spark.range(0, 4000)
      .select((col("id") % 7).cast("string").as("k"),
        (col("id") % 11).cast("string").as("lang"),
        col("id").as("v"))
      .withMetadata("k", new MetadataBuilder().putLong("graft.ndvBound", 8L).build())
      .withMetadata("lang", new MetadataBuilder().putLong("graft.ndvBound", 12L).build())
      .cache()
    dim.createOrReplaceTempView("bd_cd")
    // the cb_like_distinct shape: plain aggs + a grouped count(DISTINCT)
    val sql =
      """SELECT k, min(lang) AS ml, count(*) AS c, count(DISTINCT lang) AS nl
        |FROM bd_cd WHERE v % 3 != 1 GROUP BY k ORDER BY c DESC, k""".stripMargin
    val q = spark.sql(sql)
    assert(fired(q), "bounded distinct child should route")
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(sql)))
  }

  test("count(DISTINCT) over an unbounded child stays untouched") {
    val dim = spark.range(0, 1000)
      .select((col("id") % 5).cast("string").as("k"), col("id").as("v"))
      .withMetadata("k", new MetadataBuilder().putLong("graft.ndvBound", 6L).build())
      .cache()
    dim.createOrReplaceTempView("bd_cd_unbounded")
    val q = spark.sql(
      "SELECT k, count(DISTINCT v) AS nd FROM bd_cd_unbounded GROUP BY k ORDER BY k")
    assert(!fired(q))
  }

  test("lying distinct-child ndv: the set valve falls back, rows stay exact") {
    val wide = spark.range(0, 70000)
      .select(lit("g").as("k"), col("id").as("v"))
      .withMetadata("k", new MetadataBuilder().putLong("graft.ndvBound", 2L).build())
      .withMetadata("v", new MetadataBuilder().putLong("graft.ndvBound", 3L).build())
      .cache()
    wide.createOrReplaceTempView("bd_cd_lying")
    val sql = "SELECT k, count(DISTINCT v) AS nd FROM bd_cd_lying GROUP BY k ORDER BY k"
    val q = spark.sql(sql)
    assert(fired(q), "the lying ndv should route")
    assert(q.collect().toSeq.map(_.toString) == offRows(spark.sql(sql)))
  }

  test("AQE on/off: the routed plan returns identical rows") {
    withStats(facts).createOrReplaceTempView("bd_aqe")
    val sql =
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS m, count(*) AS n,
        | round(sum(v), 2) AS s
        |FROM bd_aqe GROUP BY 1 ORDER BY m""".stripMargin
    val on = spark.sql(sql).collect().toSeq.map(_.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.sql(sql)
      assert(fired(q), "route must fire with AQE off too")
      assert(q.collect().toSeq.map(_.toString) == on)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("aggregates outside the slot surface (distinct) stay untouched") {
    withStats(facts).createOrReplaceTempView("bd_distinct")
    val q = spark.sql(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
        | count(DISTINCT v) AS nd
        |FROM bd_distinct GROUP BY 1 ORDER BY m""".stripMargin)
    assert(!fired(q))
  }
}
