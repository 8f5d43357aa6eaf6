package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** rules/TopNThroughAgg + plans/PartialTopN + the packed partial's key
  * prune: `GROUP BY k ... ORDER BY (grouping prefix) LIMIT n` prunes
  * group fragments BEFORE the aggregate exchange, result-identical to
  * the unpruned plan — single long key arm (named "radix arm", for the
  * radix-partitioned packed aggregate that carries it) and generic
  * multi-key arm, asc and desc, NULL keys, AQE on and off, and
  * tie-heavy sort prefixes where several groups share the ORDER BY
  * tuple across the LIMIT boundary (the case the grouping-key tie-break
  * refinement exists for).
  */
class TopNAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withRule[A](on: Boolean)(f: => A): A = withGraft("TopNThroughAgg" -> on)(f)

  // high-cardinality single int key (key-prune arm) with NULL keys + NULL inputs
  private def single(): DataFrame = spark.range(60000).selectExpr(
    "CASE WHEN id % 997 = 0 THEN NULL ELSE CAST(id % 20000 AS INT) END AS k",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 7 AS DOUBLE) END AS d",
    "id % 5 AS l")

  private def singleQ(desc: Boolean): DataFrame = {
    single().createOrReplaceTempView("topn_single")
    val dir = if (desc) "DESC" else "ASC"
    spark.sql(
      s"""SELECT k, max(d) - min(d) AS r, sum(l) AS s, count(*) AS n
         |FROM topn_single GROUP BY k ORDER BY k $dir LIMIT 137""".stripMargin)
  }

  // multi-key group, sort on a PROPER PREFIX of the grouping columns with
  // deliberate ties straddling the limit boundary: a=id%40 gives 25
  // groups per a-value (b=id%5, c=id%5), LIMIT 90 cuts inside a tie run
  private def multiQ(): DataFrame = {
    spark.range(60000).selectExpr(
      "CAST(id % 40 AS INT) AS a", "CAST((id DIV 40) % 5 AS INT) AS b",
      "CAST((id DIV 200) % 5 AS INT) AS c",
      "CAST(id % 11 AS DOUBLE) AS v")
      .createOrReplaceTempView("topn_multi")
    spark.sql(
      """SELECT a, b, c, sum(v) AS sv, count(*) AS n
        |FROM topn_multi GROUP BY a, b, c
        |ORDER BY a LIMIT 90""".stripMargin)
  }

  test("radix arm: partial carries the key prune, results identical, asc + desc + AQE") {
    for (desc <- Seq(false, true); aqe <- Seq(false, true)) withAqe(aqe) {
      val q = singleQ(desc)
      val on = withRule(true)(q.collect().toSeq)
      val off = withRule(false)(singleQ(desc).collect().toSeq)
      assert(on == off, s"desc=$desc aqe=$aqe first diff: ${
        on.zip(off).find { case (x, y) => x != y }}")
      assert(on.size == 137)
      if (!aqe) withRule(true) {
        val parts = singleQ(desc).queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(parts.nonEmpty && parts.forall(_.topN.isDefined),
          singleQ(desc).queryExecution.executedPlan.toString.take(2000))
      }
    }
  }

  test("radix arm: ASC keeps the NULL-key group reachable (NULLS FIRST)") {
    withAqe(false) {
      // Spark ASC default is NULLS FIRST: the null group must appear
      // even though the emit prune only ranks non-null keys
      val on = withRule(true)(singleQ(desc = false).collect().toSeq)
      assert(on.head.isNullAt(0), on.head.toString)
    }
  }

  test("generic arm: PartialTopN under the exchange, tie-straddling limit, AQE on/off") {
    for (aqe <- Seq(false, true)) withAqe(aqe) {
      val on = withRule(true)(multiQ().collect().toSeq)
      // ORDER BY a alone is tie-nondeterministic at the boundary (LIMIT
      // 90 cuts inside a=3's 25-group tie run); the rewrite refines the
      // order with the remaining grouping columns, so the deterministic
      // reference is the UNPRUNED plan under the fully-refined order —
      // groups, aggregate values, and boundary choice must all match
      val expected = withRule(false)(spark.sql(
        """SELECT a, b, c, sum(v) AS sv, count(*) AS n
          |FROM topn_multi GROUP BY a, b, c
          |ORDER BY a, b, c LIMIT 90""".stripMargin).collect().toSeq)
      val key = (r: Row) => (r.getInt(0), r.getInt(1), r.getInt(2))
      assert(on.size == 90, s"aqe=$aqe size=${on.size}")
      assert(on.sortBy(key) == expected.sortBy(key),
        s"aqe=$aqe first diff: ${on.sortBy(key).zip(expected.sortBy(key))
          .find { case (x, y) => x != y }}")
      if (!aqe) withRule(true) {
        val plan = multiQ().queryExecution.executedPlan
        assert(plan.collect { case p: graft.plans.PartialTopNExec => p }.nonEmpty,
          plan.toString.take(2000))
      }
    }
  }

  test("sorted arm: clustered+sorted input cuts at the prefix, groups stay complete") {
    import org.apache.spark.sql.functions._
    withAqe(false) {
      // nulls in the prefix column (ASC NULLS FIRST — the null run is the
      // first distinct prefix value) + a tie boundary inside a=7
      def base() = spark.range(50000).selectExpr(
        "CASE WHEN id % 701 = 0 THEN NULL ELSE CAST(id % 500 AS INT) END AS a",
        "CAST(id % 7 AS INT) AS b", "CAST(id % 11 AS DOUBLE) AS v")
        .repartition(8, col("a")).sortWithinPartitions("a")
      def q() = base().groupBy("a", "b").agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .orderBy("a").limit(50)
      val on = withRule(true)(q().collect().toSeq)
      withRule(true) {
        val plan = q().queryExecution.executedPlan
        assert(plan.collect { case s: graft.plans.SortedPrefixLimitExec => s }.nonEmpty,
          plan.toString.take(2000))
      }
      // reference: the FULL aggregation (rule off, no limit) keyed by group
      val full = withRule(false) {
        base().groupBy("a", "b").agg(sum("v").as("sv"), count(lit(1)).as("n"))
          .collect().toSeq
      }.map(r => (Option(r.get(0)), r.getInt(1)) -> r).toMap
      val off = withRule(false)(q().collect().toSeq)
      assert(on.size == 50)
      // every emitted group's aggregate is COMPLETE (ties at the boundary
      // may differ between plans — both are valid answers — but a kept
      // group must carry the full-data aggregate, never a partial one)
      on.foreach { r =>
        val k = (Option(r.get(0)), r.getInt(1))
        assert(full.contains(k) && full(k) == r, s"group $k: $r vs ${full.get(k)}")
      }
      // the prefix multiset is deterministic even at tie boundaries
      assert(on.map(r => Option(r.get(0))).sortBy(_.map(_.toString)) ==
        off.map(r => Option(r.get(0))).sortBy(_.map(_.toString)))
    }
  }

  test("sorted arm: unclustered input does not rewrite") {
    import org.apache.spark.sql.functions._
    withAqe(false) {
      // round-robin repartition: partitioning no longer clusters groups
      val df = spark.range(10000).selectExpr("CAST(id % 100 AS INT) AS a",
        "CAST(id % 11 AS DOUBLE) AS v")
        .repartition(8).sortWithinPartitions("a")
      val q = df.groupBy("a").agg(sum("v").as("sv")).orderBy("a").limit(10)
      val plan = withRule(true)(q.queryExecution.executedPlan)
      assert(plan.collect { case s: graft.plans.SortedPrefixLimitExec => s }.isEmpty,
        plan.toString.take(2000))
    }
  }

  test("generic arm: DISTINCT + ORDER BY + LIMIT prunes too (empty aggregate list)") {
    withAqe(false) {
      spark.range(60000).selectExpr("CAST(id % 7000 AS INT) AS a",
        "CAST(id % 3 AS INT) AS b").createOrReplaceTempView("topn_distinct")
      def q() = spark.sql(
        "SELECT DISTINCT a, b FROM topn_distinct ORDER BY a, b LIMIT 40")
      val on = withRule(true)(q().collect().toSeq)
      val off = withRule(false)(q().collect().toSeq)
      assert(on == off && on.size == 40)
      withRule(true) {
        val plan = q().queryExecution.executedPlan
        assert(plan.collect { case p: graft.plans.PartialTopNExec => p }.nonEmpty,
          plan.toString.take(2000))
      }
    }
  }

  test("generic arm: sort on aggregate column does not rewrite") {
    withAqe(false) {
      spark.range(1000).selectExpr("CAST(id % 40 AS INT) AS a", "CAST(id % 5 AS INT) AS b",
        "CAST(id AS DOUBLE) AS v").createOrReplaceTempView("topn_aggsort")
      val q = spark.sql(
        """SELECT a, b, sum(v) AS sv FROM topn_aggsort
          |GROUP BY a, b ORDER BY sv DESC LIMIT 10""".stripMargin)
      val plan = withRule(true)(q.queryExecution.executedPlan)
      assert(plan.collect { case p: graft.plans.PartialTopNExec => p }.isEmpty)
      assert(plan.collect { case p: graft.plans.PackedPartialAggExec => p }
        .forall(_.topN.isEmpty))
    }
  }

  test("limit above the valve keeps Spark's plan") {
    withAqe(false) {
      single().createOrReplaceTempView("topn_single")
      val q = spark.sql(
        s"""SELECT k, sum(l) AS s FROM topn_single GROUP BY k
           |ORDER BY k LIMIT ${graft.rules.TopNThroughAgg.MaxLimit + 1}""".stripMargin)
      val plan = withRule(true)(q.queryExecution.executedPlan)
      assert(plan.collect { case p: graft.plans.PartialTopNExec => p }.isEmpty)
      assert(plan.collect { case p: graft.plans.PackedPartialAggExec => p }
        .forall(_.topN.isEmpty))
    }
  }

  test("AQE keeps a LIMIT over blob-shuffled aggregates (radix and packed routes)") {
    // the packed partials shuffle one record per state blob, not per
    // group: AQE must not read that record count as the stage's row count
    // and drop the LIMIT (EliminateLimits) or an ORDER BY (OptimizeOneRowPlan).
    // Both rules stay on: the exchange, not the session, carries the fix
    assert(spark.conf.getOption("spark.sql.adaptive.optimizer.excludedRules")
      .forall(r => !r.contains("EliminateLimits") && !r.contains("OptimizeOneRowPlan")))
    single().selectExpr("k", "CAST(k AS STRING) AS ks", "l")
      .createOrReplaceTempView("topn_single")
    for ((key, exec) <- Seq("k" -> "PackedFinalAggExec", "ks" -> "PackedFinalAggExec");
         order <- Seq("", s"ORDER BY $key")) withRule(false) {
      val sql = s"SELECT $key AS k, sum(l) AS s FROM topn_single GROUP BY $key $order LIMIT 137"
      val groups = spark.sql(s"SELECT $key, sum(l) FROM topn_single GROUP BY $key")
        .collect().map(r => r.get(0) -> r.get(1)).toMap
      val (df, rows) = withAqe(true) { val d = spark.sql(sql); (d, d.collect().toSeq) }
      val plan = MergeSortedCollectSpec.nodes(df.queryExecution.executedPlan)
      assert(plan.exists(_.getClass.getSimpleName == exec), plan.head.toString.take(2000))
      assert(plan.exists(_.isInstanceOf[graft.plans.BlobShuffleExchangeExec]),
        plan.head.toString.take(2000))
      assert(rows.length == 137, s"$sql: ${rows.length} rows")
      rows.foreach(r => assert(groups(r.get(0)) == r.get(1), s"$sql: $r"))
      if (order.nonEmpty) assert(rows == withAqe(false)(spark.sql(sql).collect().toSeq), sql)
    }
  }
}
