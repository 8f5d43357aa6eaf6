package graft

import graft.plans.{DriverAgg, DriverGroupAggExec, PackedPartialAggExec}
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
    // 200 distinct day buckets with maxGroups=16: the partial's valve
    // must count every trunc-key group toward the cap, trip
    // GroupCardinalityExceeded, and fall back to the shuffled plan —
    // same rows as cap-free execution.
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
    // warm: the table cached, which the packed partial reads batch-
    // direct; cold: the parquet file read with the vectorized reader off,
    // so the partial runs its row loop — both must match the shuffled
    // plan AND each other. Null string / int keys exercise the null mask
    // of the composite key, the trunc key the hour-bucket arithmetic.
    def batchPartial(df: DataFrame): Boolean = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case p: graft.plans.PackedPartialAggExec => p.columnarChild
      } == Seq(true)
    }
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
      val expected = shapes(t).map { case (g, s) => rows(g.orderBy(s: _*)) }
      // warm first, then the cache goes and the same reads run cold
      t.cache().count()
      val colRows = shapes(t).map { case (g, s) =>
        val colDf = DriverAgg.lowCard(g, s)
        assert(batchPartial(colDf), colDf.queryExecution.executedPlan)
        rows(colDf)
      }
      t.unpersist(blocking = true)
      val rowRows = withConf("spark.sql.parquet.enableVectorizedReader" -> "false") {
        shapes(t).map { case (g, s) =>
          val rowDf = DriverAgg.lowCard(g, s)
          assert(!batchPartial(rowDf), rowDf.queryExecution.executedPlan)
          rows(rowDf)
        }
      }
      assert(colRows == expected)
      assert(rowRows == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- driver mode of the packed partial, each compared with stock ----

  /** The same query with no graft aggregate rule. */
  private def stockRows(df: => DataFrame): Seq[String] =
    withGraft("BoundedKeyDriverAgg" -> false, "PackedShuffleAgg" -> false)(rows(df))

  private def driverExec(df: DataFrame): DriverGroupAggExec =
    df.queryExecution.executedPlan.collectFirst { case d: DriverGroupAggExec => d }.get

  private def partialOf(df: DataFrame): PackedPartialAggExec =
    driverExec(df).child.asInstanceOf[PackedPartialAggExec]

  /** Cached in batches of 100 rows, 4 partitions, partition p holding
    * ids [1000p, 1000p + 1000): `blk` has 10 values per partition and 40
    * in all, `spread` all 40 in every partition, and `s` 10 of its 17
    * values per partition, a different 10 in each. `a` and `s` carry the
    * ndv bounds a warm table's stats pass would attach.
    */
  private lazy val stressSrc: DataFrame = {
    def ndv(n: Long) =
      new org.apache.spark.sql.types.MetadataBuilder().putLong("graft.ndvBound", n).build()
    val df = spark.range(0, 4000, 1, 4).selectExpr(
      "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 5 AS STRING) END AS a",
      "CASE WHEN id % 11 = 0 THEN CAST(NULL AS INT) ELSE CAST(id % 3 AS INT) END AS b",
      "CAST(id DIV 100 AS INT) AS blk",
      "CAST(id % 40 AS INT) AS spread",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE concat('s', CAST(id DIV 100 % 17 AS STRING)) END AS s",
      "CASE WHEN id % 9 = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(id AS DOUBLE) / 8 END AS v")
      .withMetadata("a", ndv(6L)).withMetadata("s", ndv(18L))
    withConf("spark.sql.inMemoryColumnarStorage.batchSize" -> "100") { df.cache().count() }
    df
  }

  /** `f` planned and run with the partial reading the cache's batches,
    * or (`batch` false) its rows. */
  private def onPath[A](batch: Boolean)(f: => A): A =
    if (batch) f
    else withConf("spark.sql.inMemoryColumnarStorage.enableVectorizedReader" -> "false")(f)

  test("driver mode: flushGroups=8 merges many blobs per task; NULLs in both key positions") {
    for (batch <- Seq(true, false)) {
      val g = stressSrc.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("sv"),
          min(col("v")).as("mn"), max(col("b")).as("mx"))
      val s = Seq(col("a").asc_nulls_first, col("b").asc_nulls_first)
      val got = onPath(batch)(withConf("spark.graft.agg.flushGroups" -> "8") {
        val df = DriverAgg.lowCard(g, s)
        val r = rows(df)
        assert(partialOf(df).columnarChild == batch, df.queryExecution.executedPlan)
        // 24 groups flushed at 8: each task returns several blobs
        assert(partialOf(df).metrics("numOutputRows").value > 4, s"batch=$batch")
        r
      })
      assert(got == stockRows(g.orderBy(s: _*)), s"batch=$batch")
      assert(got.exists(_.startsWith("[null,0,")) && got.exists(_.startsWith("[0,null,")) &&
        got.exists(_.startsWith("[null,null,")), got)
    }
  }

  test("driver mode: the valve trips in the partial and in the driver merge, batch and row") {
    for (batch <- Seq(true, false); key <- Seq("spread", "blk")) {
      val g = stressSrc.groupBy(col(key))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("sv"))
      val df = DriverAgg.lowCard(g, Seq(col(key)), maxGroups = 16)
      assert(onPath(batch)(rows(df)) == stockRows(g.orderBy(col(key))), s"batch=$batch key=$key")
      assert(partialOf(df).columnarChild == batch)
      val d = driverExec(df)
      assert(d.metrics("valveFallbacks").value == 1, s"batch=$batch key=$key")
      // spread: 40 groups in every map, so each partial task trips and
      // no blob comes back; blk: every map holds 10, all 4 tasks return
      // and only the merged 40 trip
      val blobs = partialOf(df).metrics("numOutputRows").value
      if (key == "spread") assert(blobs < 4, s"batch=$batch: $blobs")
      else assert(blobs == 4, s"batch=$batch: $blobs")
    }
  }

  test("driver mode: empty grouped input gives no rows, empty global input gives one") {
    for (batch <- Seq(true, false)) {
      val e = stressSrc.filter(col("v") < lit(-1.0))
      val grouped = DriverAgg.lowCard(
        e.groupBy(col("a")).agg(count(lit(1)).as("n")), Seq(col("a")))
      assert(onPath(batch)(rows(grouped)).isEmpty)
      assert(partialOf(grouped).columnarChild == batch)
      val global = e.groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("s")).as("ms"), max(col("s")).as("xs"))
      val routed = DriverAgg.lowCard(global, Nil)
      val got = onPath(batch)(rows(routed))
      assert(partialOf(routed).columnarChild == batch)
      assert(got.length == 1 && got == stockRows(global), s"batch=$batch: $got")
    }
  }

  test("driver mode: string min/max and bounded count(DISTINCT) with NULLs over 4 partitions") {
    stressSrc.createOrReplaceTempView("da_obj")
    for (batch <- Seq(true, false)) {
      // every group spans all 4 partitions, each holding a different
      // part of its `s` values: the distinct counts are right only when
      // the driver merges the 4 side arrays
      val sql =
        """SELECT a, min(s) AS mn, max(s) AS mx, count(DISTINCT s) AS ds, count(*) AS n
          |FROM da_obj GROUP BY a ORDER BY a NULLS FIRST""".stripMargin
      val q = spark.sql(sql)
      val got = onPath(batch)(rows(q))
      assert(partialOf(q).columnarChild == batch, q.queryExecution.executedPlan)
      assert(got == stockRows(spark.sql(sql)), s"batch=$batch")
      assert(got.head.startsWith("[null,"), got)
    }
  }
}
