package graft

import graft.rules.PairExistsToAgg
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** rules/PairExistsToAgg: self-join pair-existence inside IN/EXISTS
  * subqueries rewrites to `GROUP BY key HAVING min(w) <> max(w)`.
  * Differential vs the hatch-off stock plan over a fixture with NULL
  * keys, NULL inequality columns, single-row groups, and uniform
  * groups; the nested (join-above, q95's second subquery) form; and the
  * declines (projected non-key column, two inequality conjuncts,
  * non-self join).
  */
class PairExistsToAggSpec extends AnyFunSuite {
  import SparkTestSession._

  /** orders 0..999 with 1..5 rows each; warehouse patterns: multi-
    * distinct, uniform-duplicate, NULL-mixed, all-NULL; NULL orders too.
    */
  private lazy val fixture: Unit = {
    spark.range(4000).selectExpr(
      "CASE WHEN id % 37 = 0 THEN NULL ELSE id % 1000 END AS o",
      """CASE WHEN id % 11 = 0 THEN NULL
        |     WHEN id % 1000 < 250 THEN CAST(id % 7 AS INT)
        |     ELSE CAST(id % 1000 % 3 AS INT) END AS w""".stripMargin,
      "CAST(id AS DOUBLE) / 8 AS amt")
      .createOrReplaceTempView("pair_t")
    spark.range(600).selectExpr(
      "CASE WHEN id % 29 = 0 THEN NULL ELSE (id * 3) % 1100 END AS ro",
      "id AS rv")
      .createOrReplaceTempView("pair_r")
  }

  private def onOff(sql: String): (Seq[Row], Seq[Row]) = {
    fixture
    def run(): Seq[Row] = spark.sql(sql).collect().toSeq
      .sortBy(_.toString)
    val on = withGraft("PairExistsToAgg" -> true)(run())
    val off = withGraft("PairExistsToAgg" -> false)(run())
    (on, off)
  }

  private def firedPlan(sql: String): Boolean = {
    fixture
    withGraft("PairExistsToAgg" -> true) {
      spark.sql(sql).queryExecution.optimizedPlan.toString.contains("_graft_pairmin")
    }
  }

  test("IN over a pair-existence self-join: identical results, rule fires") {
    val sql =
      """SELECT o, round(sum(amt) * 1e6) / 1e6 AS s FROM pair_t
        |WHERE o IN (SELECT t1.o FROM pair_t t1, pair_t t2
        |            WHERE t1.o = t2.o AND t1.w <> t2.w)
        |GROUP BY o ORDER BY o""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
    assert(on.nonEmpty)
    assert(firedPlan(sql))
  }

  test("NOT IN stays unrewritten-or-exact (NULL key semantics)") {
    // NOT IN over a list with potential NULLs is the semantics trap the
    // IsNotNull injection guards; the rewritten list must contain
    // exactly the non-NULL pair keys
    val sql =
      """SELECT count(*) AS n FROM pair_t
        |WHERE o NOT IN (SELECT t1.o FROM pair_t t1, pair_t t2
        |                WHERE t1.o = t2.o AND t1.w <> t2.w)""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
  }

  test("nested form: pair join under another join inside the IN (q95 shape)") {
    val sql =
      """SELECT o, count(*) AS n FROM pair_t
        |WHERE o IN (SELECT r.ro FROM pair_r r,
        |              (SELECT t1.o FROM pair_t t1, pair_t t2
        |               WHERE t1.o = t2.o AND t1.w <> t2.w) ww
        |            WHERE r.ro = ww.o)
        |GROUP BY o ORDER BY o""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
    assert(on.nonEmpty)
    assert(firedPlan(sql))
  }

  test("EXISTS over the pair join: identical results") {
    val sql =
      """SELECT count(*) AS n FROM pair_t
        |WHERE EXISTS (SELECT 1 FROM pair_t t1, pair_t t2
        |              WHERE t1.o = t2.o AND t1.w <> t2.w AND t1.o < 10)""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
  }

  test("decline: projected column is the inequality column") {
    val sql =
      """SELECT count(*) AS n FROM pair_t
        |WHERE w IN (SELECT t1.w FROM pair_t t1, pair_t t2
        |            WHERE t1.o = t2.o AND t1.w <> t2.w)""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
    assert(!firedPlan(sql))
  }

  test("decline: two inequality conjuncts") {
    val sql =
      """SELECT count(*) AS n FROM pair_t
        |WHERE o IN (SELECT t1.o FROM pair_t t1, pair_t t2
        |            WHERE t1.o = t2.o AND t1.w <> t2.w AND t1.amt <> t2.amt)""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
    assert(!firedPlan(sql))
  }

  test("decline: join of two different relations") {
    val sql =
      """SELECT count(*) AS n FROM pair_t
        |WHERE o IN (SELECT t1.o FROM pair_t t1, pair_r t2
        |            WHERE t1.o = t2.ro AND t1.w <> t2.rv)""".stripMargin
    val (on, off) = onOff(sql)
    assert(on == off)
    assert(!firedPlan(sql))
  }

  test("CteMaterializer declines the pair-existence CTE (and only it)") {
    fixture
    val analyzed = spark.sql(
      """WITH ww AS (SELECT t1.o AS o FROM pair_t t1, pair_t t2
        |            WHERE t1.o = t2.o AND t1.w <> t2.w)
        |SELECT count(*) FROM pair_t
        |WHERE o IN (SELECT o FROM ww)
        |  AND o IN (SELECT r.ro FROM pair_r r, ww WHERE r.ro = ww.o)""".stripMargin)
      .queryExecution.analyzed
    assert(graft.plans.CteMaterializer.materializableDefs(analyzed).isEmpty)
    // a plain multi-referenced aggregate CTE still materializes
    val tower = spark.sql(
      """WITH agg AS (SELECT o, sum(amt) AS s FROM pair_t GROUP BY o)
        |SELECT a.o FROM agg a JOIN agg b ON a.o = b.o""".stripMargin)
      .queryExecution.analyzed
    assert(graft.plans.CteMaterializer.materializableDefs(tower).nonEmpty)
  }
}
