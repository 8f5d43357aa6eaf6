package graft

import graft.plans.DriverAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the driver-finalized low-cardinality aggregate:
  * every shape must equal the ordinary shuffled-aggregate plan row for
  * row (same order), including null handling, empty input, the global
  * (ungrouped) case, and the cardinality valve.
  */
class DriverAggSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private def check(grouped: DataFrame,
                    sort: Seq[org.apache.spark.sql.Column],
                    limit: Int = -1): Unit = {
    val expected = {
      val s = grouped.orderBy(sort: _*)
      rows(if (limit >= 0) s.limit(limit) else s)
    }
    val got = rows(DriverAgg.lowCard(grouped, sort, limit))
    assert(got == expected)
  }

  private lazy val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")

  test("q1 shape: sums, avgs, count over two string keys") {
    check(
      lineitem.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n")),
      Seq(col("l_returnflag"), col("l_linestatus")))
  }

  test("computed grouping key (alias) with limit") {
    check(
      orders.groupBy(year(col("o_orderdate")).as("y"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s")),
      Seq(col("y"), col("o_orderstatus")),
      limit = 7)
  }

  test("join below the aggregate; descending sort") {
    val j = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"), count(lit(1)).as("n"))
    check(j, Seq(col("rev").desc, col("o_orderstatus")))
  }

  test("min/max over ints, longs, doubles and timestamps; nulls skipped") {
    val df = Seq(
      ("a", Some(3), Some(2.5), Some(10L)),
      ("a", None, None, Some(4L)),
      ("a", Some(-7), Some(1.5), None),
      ("b", None, None, None)
    ).toDF("k", "i", "d", "l")
    check(
      df.groupBy(col("k")).agg(
        min(col("i")).as("mn_i"), max(col("i")).as("mx_i"),
        min(col("d")).as("mn_d"), max(col("d")).as("mx_d"),
        min(col("l")).as("mn_l"), max(col("l")).as("mx_l"),
        sum(col("i")).as("s_i"), sum(col("d")).as("s_d"),
        avg(col("d")).as("a_d"), count(col("i")).as("n_i"), count(lit(1)).as("n")),
      Seq(col("k")))
  }

  test("empty grouped input yields no rows; empty GLOBAL input yields one") {
    val empty = lineitem.filter(lit(false))
    assert(rows(DriverAgg.lowCard(
      empty.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n")),
      Seq(col("l_returnflag")))).isEmpty)
    check(empty.groupBy().agg(count(lit(1)).as("n"),
      sum(col("l_quantity")).as("s"), avg(col("l_quantity")).as("a")), Nil)
  }

  test("cardinality valve falls back to the shuffled plan, not an error") {
    // key is NOT low-cardinality and maxGroups is tiny: the coordinator
    // merge must abort and the retained shuffled aggregate must produce
    // the answer — same rows, same order, same limit
    def checkFallback(grouped: DataFrame,
                      sort: Seq[org.apache.spark.sql.Column],
                      limit: Int = -1): Unit = {
      val expected = {
        val s = grouped.orderBy(sort: _*)
        rows(if (limit >= 0) s.limit(limit) else s)
      }
      val got = rows(DriverAgg.lowCard(grouped, sort, limit, maxGroups = 16))
      assert(got == expected)
    }
    // q1 call-site shape: bare scan + filter below the aggregate
    checkFallback(
      lineitem.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("s")),
      Seq(col("l_orderkey")), limit = 20)
    // tumbling call-site shape: computed (aliased) grouping key + limit
    checkFallback(
      orders.groupBy(col("o_orderdate").as("d"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n")),
      Seq(col("d"), col("o_orderstatus")), limit = 25)
    // q5 call-site shape: join below the aggregate, descending sort
    checkFallback(
      lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("l_extendedprice")), 2).as("rev")),
      Seq(col("rev").desc, col("o_custkey")), limit = 15)
  }

  test("fallback write path (doExecute) matches the shuffled plan too") {
    val grouped = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val df = DriverAgg.lowCard(grouped, Seq(col("o_custkey")), limit = 30,
      maxGroups = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_driveragg_fb").toString
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).orderBy(col("o_custkey"))
    assert(rows(back) == rows(grouped.orderBy(col("o_custkey")).limit(30)))
  }

  test("unsupported aggregates refuse at plan time") {
    intercept[Exception](DriverAgg.lowCard(
      lineitem.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n")),
      Seq(col("l_returnflag"))))
    intercept[Exception](DriverAgg.lowCard(
      lineitem.groupBy(col("l_returnflag"))
        .agg(collect_list(col("l_partkey")).as("xs")),
      Seq(col("l_returnflag"))))
  }

  test("write path (doExecute) produces the same rows as collect") {
    val df = DriverAgg.lowCard(
      lineitem.groupBy(col("l_linestatus")).agg(count(lit(1)).as("n")),
      Seq(col("l_linestatus")))
    val dir = java.nio.file.Files.createTempDirectory("graft_driveragg").toString
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).orderBy(col("l_linestatus"))
    assert(rows(back) == rows(df))
  }

  test("dense calendar arm honors maxGroups like the generic partial") {
    // 200 distinct day buckets with maxGroups=16: the dense direct-index
    // arm must count TOUCHED in-window buckets toward the cap (not just
    // overflow-map entries), trip GroupCardinalityExceeded, and fall back
    // to the shuffled plan — same rows as cap-free execution.
    val dir = java.nio.file.Files.createTempDirectory("graft_dacap").toString
    try {
      spark.range(0, 4000).selectExpr(
        "timestamp_micros(CAST(id % 200 AS LONG) * 86400000000 + 3600000000) AS ts",
        "CAST(id AS DOUBLE) / 4 AS v")
        .write.mode("overwrite").parquet(dir)
      val t = spark.read.parquet(dir)
      def g = t.groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("s"))
      val expected = rows(g.orderBy(col("d")))
      assert(rows(DriverAgg.lowCard(g, Seq(col("d")), maxGroups = 16)) == expected)
      assert(rows(DriverAgg.lowCard(g, Seq(col("d")))) == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("columnar partial equals the row partial, including null keys") {
    // parquet scans are columnar-capable, so lowCard over a bare scan
    // takes the batch-direct partial; flipping the rule flag pins the
    // row partial — both must match the shuffled plan AND each other.
    // Null string / int keys exercise the nullBits slot of the
    // composite-key table, the trunc key the hour-bucket arithmetic.
    val dir = java.nio.file.Files.createTempDirectory("graft_dacol").toString
    try {
      spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 3 AS STRING) END AS sk",
        "CASE WHEN id % 11 = 0 THEN CAST(NULL AS INT) ELSE CAST(id % 4 AS INT) END AS ik",
        "timestamp_micros(CAST(id * 1800000000 AS LONG)) AS ts",
        "CAST(id AS DOUBLE) / 8 AS v")
        .write.mode("overwrite").parquet(dir)
      val t = spark.read.parquet(dir)
      def shapes(df: DataFrame): Seq[(DataFrame, Seq[org.apache.spark.sql.Column])] = Seq(
        (df.groupBy(col("sk"), col("ik")).agg(count(lit(1)).as("n"),
          round(sum(col("v")), 4).as("s"), min(col("ik")).as("mn")),
          Seq(col("sk").asc_nulls_first, col("ik").asc_nulls_first)),
        (df.groupBy(date_trunc("hour", col("ts")).as("b"), col("sk"))
          .agg(count(lit(1)).as("n"), round(avg(col("v")), 4).as("a")),
          Seq(col("b"), col("sk").asc_nulls_first)))
      shapes(t).foreach { case (g, s) =>
        val colRows = withGraft("DriverAgg.columnar" -> true)(rows(DriverAgg.lowCard(g, s)))
        val rowRows = withGraft("DriverAgg.columnar" -> false)(rows(DriverAgg.lowCard(g, s)))
        val expected = rows(g.orderBy(s: _*))
        assert(colRows == expected)
        assert(rowRows == expected)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
