package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** plans/PackedAgg pair-key fast path (PairSlotCache + StrIntern): the
  * 2-key columnar partial memoizes (key1, key2) → slot across batches by
  * interning dict-served strings into a task-global id space. Every test
  * is a three-way differential: fast path ON vs pair hatch OFF vs stock
  * Spark aggregate — results must be identical, including NULL keys,
  * empty-string keys, the flush/generation path, and the pass-through
  * switch. Aggregate inputs are small exact-in-double integers so the
  * compare is exact despite reordered FP addition.
  */
class PackedPairKeySpec extends AnyFunSuite {
  import SparkTestSession._

  private def packedOff[A](f: => A): A = withGraft("PackedShuffleAgg" -> false)(f)

  private def pairOff[A](f: => A): A = withGraft("PackedAgg.pairKeys" -> false)(f)

  /** Cache a source so the packed partial takes the columnar branch (the
    * only place the pair path lives), run the query three ways, compare.
    */
  private def threeWay(view: String, src: => org.apache.spark.sql.DataFrame)(
      q: () => org.apache.spark.sql.DataFrame): Unit = {
    src.createOrReplaceTempView(s"${view}_src")
    spark.sql(s"CACHE TABLE $view AS SELECT * FROM ${view}_src")
    try {
      val partials = q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedPartialAggExec => p }
      assert(partials.nonEmpty && partials.forall(_.columnarChild),
        q().queryExecution.executedPlan.toString.take(2000))
      val fast = q().collect().toSeq
      val slow = pairOff(q().collect().toSeq)
      val stock = packedOff(q().collect().toSeq)
      assert(fast == slow, s"pair path vs generic first diff: ${
        fast.zip(slow).find { case (a, b) => a != b }} sizes ${fast.size}/${slow.size}")
      assert(fast == stock, s"pair path vs stock first diff: ${
        fast.zip(stock).find { case (a, b) => a != b }} sizes ${fast.size}/${stock.size}")
    } finally spark.sql(s"UNCACHE TABLE $view")
  }

  test("(string, string) dict pair keys: NULLs and '' stay distinct groups") {
    withAqe(false) {
      threeWay("pair_ss", spark.range(60000).selectExpr(
        "CASE WHEN id % 89 = 0 THEN NULL WHEN id % 7 = 0 THEN '' " +
          "ELSE concat('a_', id % 37) END AS s1",
        "CASE WHEN id % 83 = 0 THEN NULL ELSE concat('b_', id % 29) END AS s2",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END AS v")) { () =>
        spark.table("pair_ss").groupBy("s1", "s2").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"),
          avg(col("v")).as("av"), min(col("v")).as("mn"), max(col("v")).as("mx"))
          .orderBy(col("s1").asc_nulls_first, col("s2").asc_nulls_first)
      }
    }
  }

  test("(string, long) mixed pair keys (h2o g09 shape)") {
    withAqe(false) {
      threeWay("pair_sl", spark.range(60000).selectExpr(
        "CASE WHEN id % 97 = 0 THEN NULL ELSE concat('id', id % 41) END AS s1",
        "CASE WHEN id % 91 = 0 THEN NULL ELSE CAST(id % 23 AS INT) END AS k2",
        "CAST(id % 11 AS DOUBLE) AS v")) { () =>
        spark.table("pair_sl").groupBy("s1", "k2").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .orderBy(col("s1").asc_nulls_first, col("k2").asc_nulls_first)
      }
    }
  }

  test("flush path: mid-stream map resets invalidate memoized slots") {
    withConf("spark.graft.agg.flushGroups" -> "64") { withAqe(false) {
      // >64 groups per partition forces emit+reset between (and within)
      // batches — a stale slot memo would corrupt groups after the reset
      threeWay("pair_flush", spark.range(50000).selectExpr(
        "concat('x_', id % 40) AS s1",
        "concat('y_', id % 25) AS s2",
        "id % 5 AS v")) { () =>
        spark.table("pair_flush").groupBy("s1", "s2").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .orderBy("s1", "s2")
      }
    } }
  }

  test("pass-through switch mid-partition with pair path on") {
    withConf("spark.graft.agg.passThroughCheckRows" -> "256") { withAqe(false) {
      // near-unique pairs trip the 0.75 group/row ratio at the lowered
      // check point; each pair appears twice → real cross-fragment merges
      threeWay("pair_pt", spark.range(40000).selectExpr(
        "concat('u_', id % 20000) AS s1",
        "CASE WHEN id % 37 = 0 THEN NULL ELSE concat('w_', (id * 7) % 20000) END AS s2",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END AS v")) { () =>
        spark.table("pair_pt").groupBy("s1", "s2").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"), max(col("v")).as("mx"))
          .orderBy(col("s1"), col("s2").asc_nulls_first)
      }
    } }
  }

  test("hash-colliding distinct strings do not merge in the intern") {
    // coprime moduli (4001, 53) so the pair cardinality is the product —
    // both interns AND the PairSlotCache actually grow under collisions
    withAqe(false) {
      threeWay("pair_wide", spark.range(80000).selectExpr(
        "concat('p', id % 4001) AS s1",
        "concat('q', (id * 31) % 53) AS s2",
        "id % 3 AS v")) { () =>
        spark.table("pair_wide").groupBy("s1", "s2").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .orderBy("s1", "s2")
      }
    }
  }

  test("NULL-key rows that grow the map mid-batch do not stale the memo") {
    // the map starts at cap 4096 and grows past 3/4 fill; NULL-key rows
    // route through genericRow, whose slotOf can trigger that grow BETWEEN
    // memoized pair hits inside one batch. Two partitions so each task
    // sees ~22k groups (20k unique NULL-key groups force repeated grows,
    // 2k repeated pairs keep hitting the memo across them). No
    // flushGroups setting: the grow, not a flush/reset, must bump generation.
    withAqe(false) {
      threeWay("pair_grow", spark.range(200000).repartition(2).selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('a', id % 50) END AS s1",
        "CASE WHEN id % 5 = 0 THEN id ELSE id % 40 END AS k2",
        "id % 7 AS v")) { () =>
        spark.table("pair_grow").groupBy("s1", "k2").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"), max(col("v")).as("mx"))
          .orderBy(col("s1").asc_nulls_first, col("k2"))
      }
    }
  }

  test("3-key and 1-key shapes decline the pair path (and stay correct)") {
    withAqe(false) {
      // 3 keys: pairKeys gate is kN == 2 — just assert result equality
      threeWay("pair_three", spark.range(30000).selectExpr(
        "concat('a', id % 11) AS s1",
        "concat('b', id % 7) AS s2",
        "id % 5 AS k3",
        "id % 9 AS v")) { () =>
        spark.table("pair_three").groupBy("s1", "s2", "k3")
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .orderBy("s1", "s2", "k3")
      }
    }
  }
}
