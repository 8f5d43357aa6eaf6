package graft

import graft.plans.{DriverAgg, DriverGroupAggExec, PackedPartialAggExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential specs for the batch arms of the driver-final
  * aggregate's packed partial:
  *  - selection fold (Filter over the cache scan pushed into the partial
  *    loop as a DictSelection, incl. the PRIM tier),
  *  - dict-id group keys (string keys hashed once per batch dictionary
  *    entry),
  *  - expression aggregate inputs (the q1 disc_price shape, evaluated
  *    through the value projection over the batch's row view).
  * Every arm must be row-identical to (a) itself with the arm's escape
  * hatch off and (b) the stock plan, across AQE on/off, NULL keys, NULL
  * inputs, NaN doubles, and the maxGroups fallback.
  */
class DriverAggVectorSpec extends AnyFunSuite {
  import SparkTestSession._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  // cached table with dict-encoded string keys, NULLs in keys and
  // inputs, NaN doubles, and a timestamp column for the PRIM selection
  private lazy val cachedT: DataFrame = {
    val df = spark.range(60000).selectExpr(
      "CASE WHEN id % 101 = 0 THEN NULL ELSE concat('F', CAST(id % 3 AS STRING)) END AS flag",
      "CASE WHEN id % 97 = 0 THEN NULL ELSE concat('S', CAST(id % 2 AS STRING)) END AS status",
      "CASE WHEN id % 89 = 0 THEN CAST(NULL AS DOUBLE) " +
        "WHEN id % 83 = 0 THEN CAST('NaN' AS DOUBLE) " +
        "ELSE CAST(id % 50 AS DOUBLE) / 4 END AS price",
      "CASE WHEN id % 79 = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(id % 10 AS DOUBLE) / 100 END AS disc",
      "CAST(id % 7 AS DOUBLE) AS qty",
      "timestamp_micros(id * 1000000) AS ts",
      "CAST(id % 1000 AS INT) AS ik")
      .cache()
    df.count()
    df
  }

  private def agg(src: DataFrame): DataFrame =
    src.filter(col("ts") <= timestamp_micros(lit(40000000000L)))
      .groupBy(col("flag"), col("status"))
      .agg(
        round(sum(col("qty")), 4).as("sum_qty"),
        round(sum(col("price") * (lit(1.0) - col("disc"))), 4).as("disc_price"),
        round(sum(col("price") * (lit(1.0) - col("disc")) * (lit(1.1) + col("disc"))), 4).as("charge"),
        round(avg(col("disc")), 6).as("avg_disc"),
        count(col("price")).as("n_price"),
        count(lit(1)).as("n"))

  private val sort = Seq(col("flag").asc_nulls_first, col("status").asc_nulls_first)

  /** The same query with no graft aggregate rule. */
  private def stock(df: => DataFrame): Seq[String] =
    withGraft("BoundedKeyDriverAgg" -> false, "PackedShuffleAgg" -> false)(rows(df))

  private def partialOf(d: DriverGroupAggExec): PackedPartialAggExec =
    d.child.asInstanceOf[PackedPartialAggExec]

  private def findExec(df: DataFrame): Option[DriverGroupAggExec] = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[DriverGroupAggExec] = {
      val p0 = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p0.collect { case d: DriverGroupAggExec => d } ++ p0.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      }.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).headOption
  }

  test("selection folds into the batch partial; rows identical to shuffled plan") {
    val expected = rows(agg(cachedT).orderBy(sort: _*))
    for (aqe <- Seq(false, true)) {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val df = DriverAgg.lowCard(agg(cachedT), sort)
        val d = findExec(df)
        assert(d.isDefined, s"aqe=$aqe: no DriverGroupAggExec")
        assert(partialOf(d.get).columnarChild && partialOf(d.get).selection.nonEmpty,
          s"aqe=$aqe: selection not folded: ${d.get.treeString}")
        assert(rows(df) == expected, s"aqe=$aqe")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("each arm's escape hatch reproduces identical rows (3-way differential)") {
    val expected = stock(agg(cachedT).orderBy(sort: _*))
    def run(): Seq[String] = rows(DriverAgg.lowCard(agg(cachedT), sort))
    assert(run() == expected) // all arms on
    withGraft("PackedAgg.dictKeys" -> false) {
      assert(run() == expected, "dict keys off")
    }
    withGraft("PackedAgg.selectionFold" -> false) {
      val df = DriverAgg.lowCard(agg(cachedT), sort)
      assert(rows(df) == expected, "selection fold off")
      val d = findExec(df)
      assert(d.forall(partialOf(_).selection.isEmpty), "hatch off must not fold")
    }
  }

  test("PRIM tier boundaries: <= keeps the exact-boundary row, nulls never pass") {
    // exact boundary: ts == literal must PASS <=; ts-null rows must not
    val df = spark.range(100).selectExpr(
      "CASE WHEN id % 10 = 0 THEN NULL ELSE timestamp_micros(id * 1000000) END AS ts",
      "CAST(1 AS DOUBLE) AS one", "concat('k', CAST(id % 2 AS STRING)) AS k").cache()
    df.count()
    def q(src: DataFrame) = src.filter(col("ts") <= timestamp_micros(lit(50000000L)))
      .groupBy(col("k")).agg(count(lit(1)).as("n"), round(sum(col("one")), 1).as("s"))
    val expected = rows(q(df).orderBy(col("k")))
    val routed = DriverAgg.lowCard(q(df), Seq(col("k")))
    assert(rows(routed) == expected)
    // ids 1..50 pass (id=50 is the exact boundary), minus the 5 null-ts
    // positions 10/20/30/40/50 → exactly 45 rows
    val total = routed.collect().map(_.getLong(1)).sum
    assert(total == 45, s"boundary row miscount: $total")
    df.unpersist()
  }

  test("double-column predicates stay exact with NaN present (row tier)") {
    // NaN price rows: Spark's comparison semantics (NaN sorts greatest,
    // never <= a finite literal under this shape) must be preserved —
    // the PRIM tier declines doubles and the row tier evaluates
    val src = cachedT.filter(col("price") <= lit(5.0))
      .groupBy(col("flag")).agg(count(lit(1)).as("n"))
    val expected = rows(src.orderBy(col("flag").asc_nulls_first))
    assert(rows(DriverAgg.lowCard(src, Seq(col("flag").asc_nulls_first)))
      == expected)
  }

  test("maxGroups valve still falls back with a folded selection") {
    val g = cachedT.filter(col("ts") <= timestamp_micros(lit(40000000000L)))
      .groupBy(col("ik")).agg(count(lit(1)).as("n"))
    val expected = rows(g.orderBy(col("ik")))
    assert(rows(DriverAgg.lowCard(g, Seq(col("ik")), maxGroups = 16)) == expected)
  }
}
