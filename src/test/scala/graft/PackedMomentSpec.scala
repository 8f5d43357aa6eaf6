package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** plans/PackedAgg VarSlot/CovarSlot: stddev/variance/covariance (and
  * their FILTER forms, folded to If-NULL inputs) in the packed
  * partial/final pair. The update/merge recurrences replicate Spark's
  * CentralMomentAgg/Covariance operation-for-operation, so with ONE
  * input partition (single partial state per group — no merge-order
  * freedom) results must be BIT-identical to the stock plan; the
  * multi-partition merge test compares after the h2o-gate rounding
  * (round(x*1e6)/1e6) since stock's own merge order is fetch-dependent.
  */
class PackedMomentSpec extends AnyFunSuite {
  import SparkTestSession._

  private def packedOff[A](f: => A): A = withGraft("PackedShuffleAgg" -> false)(f)

  /** v1/v2: ints with NULLs across (37 × 5) groups, plus appended edge
    * groups: a single-row group, an all-NULL-v1 group, and a group where
    * only one row has both values.
    */
  private def src(n: Int) = spark.range(n).selectExpr(
    "concat('k', id % 37) AS g1",
    "CAST(id % 5 AS INT) AS g2",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 97 AS INT) END AS v1",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST((id * 7) % 89 AS INT) END AS v2")
    .union(spark.sql(
      """SELECT * FROM VALUES
        |  ('lone', 99, 5, 7),
        |  ('nullv', 98, CAST(NULL AS INT), 3),
        |  ('nullv', 98, CAST(NULL AS INT), 4),
        |  ('onegood', 97, 2, CAST(NULL AS INT)),
        |  ('onegood', 97, 6, 11)
        |AS t(g1, g2, v1, v2)""".stripMargin))

  // IsNotNull-guarded FILTER forms only: those resolve to batch-direct
  // guarded columns; general predicates (the row-path test below) fall
  // back to the projection row loop
  private val aggSql =
    """SELECT g1, g2,
      |  stddev(v1) AS sd1, stddev_pop(v1) AS sp1,
      |  var_samp(v2) AS vs2, var_pop(v2) AS vp2,
      |  covar_samp(v1, v2) AS cs, covar_pop(v1, v2) AS cp,
      |  stddev(v1) FILTER (WHERE v1 IS NOT NULL AND v2 IS NOT NULL) AS sdf
      |FROM %s GROUP BY g1, g2 ORDER BY g1, g2""".stripMargin

  // general-predicate FILTER forms: fold defeats the batch resolver, the
  // packed partial takes its row loop — values must still be exact
  private val rowAggSql =
    """SELECT g1, g2,
      |  stddev(v1) AS sd1, covar_samp(v1, v2) AS cs,
      |  stddev(v1) FILTER (WHERE v1 IS NOT NULL AND v2 IS NOT NULL) AS sdf,
      |  count(*) FILTER (WHERE v2 IS NOT NULL) AS cf,
      |  sum(v1) FILTER (WHERE v2 > 50) AS sf,
      |  min(v2) FILTER (WHERE pmod(v1, 2) = 0) AS mf
      |FROM %s GROUP BY g1, g2 ORDER BY g1, g2""".stripMargin

  /** Colocate every (g1, g2) group in one map partition via a DERIVED
    * hash column the planner cannot recognize as the grouping keys: each
    * group then has exactly ONE partial state, the exchange survives,
    * and the final merge is order-free — exact compare is sound.
    */
  private def colocate(df: org.apache.spark.sql.DataFrame, n: Int) = {
    import org.apache.spark.sql.functions._
    val ks = Seq("g1", "g2").filter(df.columns.contains) match {
      case Nil => Seq("g", "i")
      case x => x
    }
    df.withColumn("_b", expr(s"pmod(xxhash64(${ks.mkString(", ")}), $n)"))
      .repartition(n, col("_b")).drop("_b")
  }

  private def runBoth(view: String, onePartition: Boolean): (Seq[Row], Seq[Row]) = {
    val df = if (onePartition) colocate(src(20000), 4) else src(60000).repartition(7)
    df.createOrReplaceTempView(s"${view}_src")
    spark.sql(s"CACHE TABLE $view AS SELECT * FROM ${view}_src")
    try {
      val q = () => spark.sql(aggSql.format(view))
      val partials = q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedPartialAggExec => p }
      assert(partials.nonEmpty, q().queryExecution.executedPlan.toString.take(2000))
      assert(partials.forall(_.columnarChild))
      (q().collect().toSeq, packedOff(q().collect().toSeq))
    } finally spark.sql(s"UNCACHE TABLE $view")
  }

  test("single-partition moments + FILTER forms are bit-identical to stock") {
    withAqe(false) {
      val (fast, stock) = runBoth("mom_one", onePartition = true)
      assert(fast.size == stock.size)
      assert(fast == stock, s"first diff: ${
        fast.zip(stock).find { case (a, b) => a != b }}")
    }
  }

  test("multi-partition merge matches stock after gate rounding") {
    withAqe(false) {
      val (fast, stock) = runBoth("mom_many", onePartition = false)
      assert(fast.size == stock.size)
      def rnd(r: Row): Seq[Any] = r.toSeq.map {
        case d: Double => math.round(d * 1e6) / 1e6
        case x => x
      }
      val f = fast.map(rnd); val s = stock.map(rnd)
      assert(f == s, s"first diff: ${f.zip(s).find { case (a, b) => a != b }}")
    }
  }

  test("n==1 and empty-after-filter groups keep Spark's NULL semantics") {
    withAqe(false) {
      spark.sql("""SELECT * FROM VALUES
        |  ('a', 1, 10.0, 2.0), ('b', 2, CAST(NULL AS DOUBLE), 1.0),
        |  ('c', 3, 4.0, CAST(NULL AS DOUBLE))
        |AS t(g, i, x, y)""".stripMargin).createOrReplaceTempView("edge_vals")
      colocate(spark.table("edge_vals"), 2).createOrReplaceTempView("mom_edge_src")
      spark.sql("CACHE TABLE mom_edge AS SELECT * FROM mom_edge_src")
      try {
        val q = () => spark.sql(
          """SELECT g, i, stddev(x) AS sd, var_samp(x) AS vs,
            |  stddev_pop(x) AS sp, covar_samp(x, y) AS cs,
            |  covar_pop(x, y) AS cp,
            |  stddev(x) FILTER (WHERE y > 100) AS sdf
            |FROM mom_edge GROUP BY g, i ORDER BY g""".stripMargin)
        val partials = q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(partials.nonEmpty)
        val fast = q().collect().toSeq
        val stock = packedOff(q().collect().toSeq)
        assert(fast == stock, s"$fast vs $stock")
        // single-value group: sample statistics are NULL under the
        // default (nullOnDivideByZero), population stddev is 0
        val a = fast.find(_.getString(0) == "a").get
        assert(a.isNullAt(2) && a.isNullAt(3) && a.getDouble(4) == 0.0)
      } finally spark.sql("UNCACHE TABLE mom_edge")
    }
  }

  test("row-path (uncached) moments match stock") {
    withAqe(false) {
      colocate(src(20000), 4).createOrReplaceTempView("mom_row")
      // general-predicate FILTER folds decline batch resolution — the
      // packed partial runs its row loop over the projected If inputs
      val q = () => spark.sql(rowAggSql.format("mom_row"))
      val hasPacked = q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedPartialAggExec => p }.nonEmpty
      val fast = q().collect().toSeq
      val stock = packedOff(q().collect().toSeq)
      assert(fast == stock, s"packed=$hasPacked first diff: ${
        fast.zip(stock).find { case (a, b) => a != b }}")
    }
  }
}
