package graft

import graft.rules.WindowTopKToAgg
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Grouped top-k rewrite (rules/WindowTopKToAgg +
  * functions/TopKRowsAgg): Filter(row_number <= k over Window) becomes
  * a k-bounded hash aggregate + posexplode. Differential vs the stock
  * window plan across key/order/limit shapes, the plan pin, the
  * decline surfaces (rank, non-literal k, wide payload), and the
  * physical single-phase skip (rules/TopKSinglePhase).
  */
class WindowTopKToAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(_.collectFirst {
            case _: graft.functions.TopKRowsAgg => ()
          }.nonEmpty) => a
    }.nonEmpty

  private def offRows(sql: String): Seq[String] = withGraft("WindowTopKToAgg" -> false)(
    spark.sql(sql).collect().toSeq.map(_.toString).sorted)

  private def onRows(sql: String): Seq[String] =
    spark.sql(sql).collect().toSeq.map(_.toString).sorted

  private def seed(): Unit = {
    // 40 groups x 50 rows, distinct order values within each group (the
    // oracle-gate convention: row_number among ties is engine-order
    // dependent in BOTH plans, so differential tests stay tie-free)
    spark.range(2000).selectExpr(
      "id % 40 AS g",
      "CAST(pmod(id * 48271, 2003) AS DOUBLE) + (id % 40) / 100.0 AS v",
      "concat('s', id) AS s",
      "CASE WHEN id % 17 = 0 THEN NULL ELSE CAST(id % 97 AS INT) END AS w")
      .createOrReplaceTempView("tk")
  }

  test("top-3 per group: fires, exact rows vs stock plan") {
    seed()
    val q = """SELECT g, v, s FROM (
      SELECT g, v, s, row_number() OVER (PARTITION BY g ORDER BY v DESC) rn
      FROM tk) WHERE rn <= 3"""
    val df = spark.sql(q)
    assert(fired(df), df.queryExecution.optimizedPlan.toString)
    assert(onRows(q) == offRows(q))
  }

  test("rn kept in the projection: pos+1 reproduces row_number") {
    seed()
    val q = """SELECT g, v, rn FROM (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) rn
      FROM tk) WHERE rn <= 2"""
    assert(fired(spark.sql(q)))
    assert(onRows(q) == offRows(q))
  }

  test("rn = 1 equality form and residual conjuncts") {
    seed()
    val q = """SELECT g, v FROM (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) rn
      FROM tk) WHERE rn = 1 AND v > 10"""
    assert(fired(spark.sql(q)))
    assert(onRows(q) == offRows(q))
  }

  test("multi-column order with NULLS FIRST/LAST and asc/desc mix") {
    seed()
    val q = """SELECT g, w, v FROM (
      SELECT g, w, v, row_number() OVER (
        PARTITION BY g ORDER BY w ASC NULLS FIRST, v DESC) rn
      FROM tk) WHERE rn <= 4"""
    assert(fired(spark.sql(q)))
    assert(onRows(q) == offRows(q))

    val q2 = """SELECT g, w, v FROM (
      SELECT g, w, v, row_number() OVER (
        PARTITION BY g ORDER BY w DESC NULLS LAST, v) rn
      FROM tk) WHERE rn <= 4"""
    assert(fired(spark.sql(q2)))
    assert(onRows(q2) == offRows(q2))
  }

  test("string order column") {
    seed()
    val q = """SELECT g, s FROM (
      SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) rn
      FROM tk) WHERE rn <= 2"""
    assert(fired(spark.sql(q)))
    assert(onRows(q) == offRows(q))
  }

  test("ties: both plans return a valid pick (set of order values agrees)") {
    spark.range(1000).selectExpr("id % 10 AS g", "CAST(id % 7 AS DOUBLE) AS v")
      .createOrReplaceTempView("tk_ties")
    val q = """SELECT g, v FROM (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v DESC) rn
      FROM tk_ties) WHERE rn <= 5"""
    // row_number's pick among ties is arbitrary in BOTH plans; the
    // multiset of (g, v) survivors is the deterministic part
    assert(fired(spark.sql(q)))
    assert(onRows(q) == offRows(q))
  }

  test("decline: rank() keeps the stock window plan") {
    seed()
    val q = """SELECT g, v FROM (
      SELECT g, v, rank() OVER (PARTITION BY g ORDER BY v) rn
      FROM tk) WHERE rn <= 3"""
    assert(!fired(spark.sql(q)))
  }

  test("decline: k above MaxK keeps the stock plan") {
    seed()
    val q = s"""SELECT g, v FROM (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) rn
      FROM tk) WHERE rn <= ${WindowTopKToAgg.MaxK + 1}"""
    assert(!fired(spark.sql(q)))
  }

  test("decline: no order or no partition keeps the stock plan") {
    seed()
    val noPart = """SELECT g, v FROM (
      SELECT g, v, row_number() OVER (ORDER BY v) rn
      FROM tk) WHERE rn <= 3"""
    assert(!fired(spark.sql(noPart)))
  }

  test("aggregate buffer roundtrip: serialize/deserialize/merge exact") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, SortOrder, Descending, UnsafeProjection}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val payload = Seq(BoundReference(0, LongType, nullable = false),
      BoundReference(1, DoubleType, nullable = false))
    val order = Seq(SortOrder(BoundReference(1, DoubleType, nullable = false),
      Descending))
    val agg = graft.functions.TopKRowsAgg(3, payload, order)
    val proj = UnsafeProjection.create(Array[DataType](LongType, DoubleType))
    def row(l: Long, d: Double) = proj(InternalRow(l, d)).copy()
    val a = agg.createAggregationBuffer()
    Seq(1.0, 5.0, 3.0, 2.0).zipWithIndex.foreach { case (d, i) =>
      agg.update(a, row(i.toLong, d))
    }
    val b = agg.createAggregationBuffer()
    Seq(4.0, 0.5, 9.0).zipWithIndex.foreach { case (d, i) =>
      agg.update(b, row(100L + i, d))
    }
    val merged = agg.merge(a, agg.deserialize(agg.serialize(b)))
    val out = agg.eval(merged)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
    val vals = (0 until out.numElements()).map(i =>
      out.getStruct(i, 2).getDouble(1))
    assert(vals == Seq(9.0, 5.0, 4.0))
  }

  test("single-phase skip: TopKSinglePhase rewrites the proved pair") {
    // synthetic ndv metadata proving high cardinality: ndvLow ~ rows
    import org.apache.spark.sql.types.MetadataBuilder
    val md = new MetadataBuilder()
      .putLong("graft.ndvLow", 90L).putLong("graft.rowCount", 100L).build()
    val base = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .withMetadata("k", md)
    base.cache().count()
    base.createOrReplaceTempView("tk_sp")
    val q = """SELECT k, v FROM (
      SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) rn
      FROM tk_sp) WHERE rn <= 2"""
    val df = spark.sql(q)
    val got = df.collect().map(_.toString).sorted.toSeq
    // post-execution plan; under AQE toString prints final + initial —
    // count only the final section
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // Complete-mode single aggregate: exactly one ObjectHashAggregate
    val n = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(fired(df))
    assert(n == 1, plan)
    assert(got == offRows(q))
  }
}
