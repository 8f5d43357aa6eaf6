package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rules/SortedRunAggRule + plans/SortedRunAgg: Complete-mode aggregates
  * over run-clustered input stream per sorted-prefix run,
  * result-identical to the hash aggregate — NULL prefix runs, NULL run
  * keys, NULL agg inputs, every slot type, AQE on/off, and the
  * no-rewrite guards (unsorted child, >1 remaining key, unsupported key
  * type).
  */
class SortedRunAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withRule[A](on: Boolean)(f: => A): A = withGraft("SortedRunAggRule" -> on)(f)

  // run-clustered: partitioned AND sorted by `a` (nulls included), with
  // NULL run keys in `b` and NULL agg inputs in `d`. CACHED — like the
  // production warm tables — so the ordering is a physical property of
  // a COLUMNAR scan (the rule only rewrites when the batch path engages)
  private lazy val base: DataFrame = {
    val df = spark.range(60000).selectExpr(
      "CASE WHEN id % 997 = 0 THEN NULL ELSE CAST(id % 5000 AS INT) END AS a",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END AS b",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 9 AS DOUBLE) END AS d",
      "id % 5 AS l")
      .repartition(8, col("a")).sortWithinPartitions("a").cache()
    df.count()
    df
  }

  private def q(): DataFrame = base.groupBy("a", "b").agg(
    count(lit(1)).as("n"), count(col("d")).as("nd"),
    sum(col("d")).as("sd"), sum(col("l")).as("sl"), avg(col("l")).as("al"),
    min(col("d")).as("mnd"), max(col("d")).as("mxd"))

  test("run-streamed aggregate plans and is result-identical, AQE on/off") {
    for (aqe <- Seq(false, true)) withAqe(aqe) {
      def run(on: Boolean) = withRule(on) {
        q().orderBy(col("a").asc_nulls_first, col("b").asc_nulls_first)
          .collect().toSeq
      }
      val on = run(true)
      val off = run(false)
      assert(on.size == off.size && on == off, s"aqe=$aqe first diff: ${
        on.zip(off).find { case (x, y) => x != y }}")
      assert(on.size > 5000)
      if (!aqe) withRule(true) {
        val plan = q().queryExecution.executedPlan
        assert(plan.collect { case s: graft.plans.SortedRunAggExec => s }.nonEmpty,
          plan.toString.take(2000))
      }
    }
  }

  test("prefix-only grouping (no remaining key) streams too") {
    withAqe(false) {
      def run(on: Boolean) = withRule(on) {
        base.groupBy("a").agg(sum(col("l")).as("s"), count(lit(1)).as("n"))
          .orderBy(col("a").asc_nulls_first).collect().toSeq
      }
      withRule(true) {
        val plan = base.groupBy("a").agg(sum(col("l")).as("s"))
          .queryExecution.executedPlan
        assert(plan.collect { case s: graft.plans.SortedRunAggExec => s }.nonEmpty,
          plan.toString.take(2000))
      }
      assert(run(true) == run(false))
    }
  }

  test("filtered child takes the direct-ordinal row path, results identical") {
    withAqe(false) {
      def fq() = base.filter(col("l") =!= 2).groupBy("a", "b").agg(
        sum(col("d")).as("sd"), count(lit(1)).as("n"),
        min(col("d")).as("mn"), avg(col("l")).as("al"))
      val on = withRule(true)(fq()
        .orderBy(col("a").asc_nulls_first, col("b").asc_nulls_first).collect().toSeq)
      val off = withRule(false)(fq()
        .orderBy(col("a").asc_nulls_first, col("b").asc_nulls_first).collect().toSeq)
      assert(on == off, s"first diff: ${on.zip(off).find { case (x, y) => x != y }}")
      withRule(true) {
        val plan = fq().queryExecution.executedPlan
        val execs = plan.collect { case s: graft.plans.SortedRunAggExec => s }
        assert(execs.nonEmpty && execs.forall(e => !e.columnarChild && e.rowDirectEligible),
          plan.toString.take(2000))
      }
    }
  }

  private def withTopN[A](on: Boolean)(f: => A): A = withGraft("SortedRunAgg.topN" -> on)(f)

  test("fused top-n drain matches the unfused TakeOrdered pair (total orders)") {
    withAqe(false) {
      // total orders (keys cover a AND b) across directions, null
      // orderings, long and double sort slots, limits below and above
      // the per-partition group count
      val orders = Seq(
        Seq(col("n").desc, col("a").asc_nulls_first, col("b").asc_nulls_first),
        Seq(col("sd").desc_nulls_last, col("a").desc_nulls_last, col("b").asc_nulls_first),
        Seq(col("al").asc_nulls_first, col("b").desc_nulls_first, col("a").asc_nulls_last))
      for (ord <- orders; limit <- Seq(7, 400)) {
        def run(on: Boolean) = withTopN(on) {
          q().orderBy(ord: _*).limit(limit).collect().toSeq
        }
        val fusedPlan = withTopN(true) {
          val df = q().orderBy(ord: _*).limit(limit)
          df.collect()
          df.queryExecution.executedPlan
        }
        assert(fusedPlan.collect {
          case s: graft.plans.SortedRunAggExec if s.topN.isDefined => s
        }.nonEmpty, fusedPlan.toString.take(2000))
        assert(run(true) == run(false), s"ord=$ord limit=$limit")
      }
    }
  }

  test("GroupTopN heap keeps exactly the best cap tuples on improving, worsening, and random streams") {
    import graft.plans.SortedRunAggExec.GroupTopN
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val cap = 100
    // dim0: long DESC nulls last; dim1: double ASC nulls first
    val (isD, desc, nf) = (Array(false, true), Array(true, false), Array(false, true))
    def cmp(a: (Boolean, Long, Double), b: (Boolean, Long, Double)): Int = {
      val c0 =
        if (a._1 || b._1) { if (a._1 == b._1) 0 else if (a._1) 1 else -1 } // null last
        else -java.lang.Long.compare(a._2, b._2) // desc
      if (c0 != 0) c0 else java.lang.Double.compare(a._3, b._3)
    }
    def check(stream: IndexedSeq[(Boolean, Long, Double)]): Unit = {
      val h = new GroupTopN(cap, 2, isD, desc, nf)
      stream.zipWithIndex.foreach { case ((n0, l0, d1), i) =>
        h.candN(0) = n0; h.candL(0) = if (n0) 0L else l0
        h.candN(1) = false; h.candD(1) = d1
        if (h.admits) h.insert(new GenericInternalRow(Array[Any](i)))
      }
      val got = (0 until h.size).map(i => stream(h.rows(i).getInt(0)))
        .sortWith(cmp(_, _) < 0)
      val want = stream.sortWith(cmp(_, _) < 0).take(cap)
      assert(got == want, s"heap survivors diverge (n=${stream.length})")
    }
    // improving order (the ADVICE r9 cliff: EVERY candidate admits — a
    // linear worst-rescan would be O(n*cap) here; the heap is O(n log cap))
    check((0 until 5000).map(i => (false, i.toLong, -i.toDouble)))
    // worsening order (only the first cap admit)
    check((0 until 5000).map(i => (false, -i.toLong, i.toDouble)))
    // random with nulls and ties in both dims
    val rnd = new scala.util.Random(42)
    check((0 until 5000).map { _ =>
      (rnd.nextInt(50) == 0, rnd.nextInt(300).toLong, rnd.nextInt(40).toDouble)
    })
  }

  test("top-n fusion declines non-total orders and rewritten sort keys") {
    withAqe(false) {
      // n DESC alone is not total over the groups — pruning could drop
      // tied rows the global heap would keep
      val p1 = q().orderBy(col("n").desc).limit(5)
      p1.collect()
      assert(p1.queryExecution.executedPlan.collect {
        case s: graft.plans.SortedRunAggExec if s.topN.isDefined => s
      }.isEmpty)
      // a key through round() is a REWRITTEN aggregate, not a raw slot
      val p2 = base.groupBy("a", "b")
        .agg(round(sum(col("d")), 2).as("rs"))
        .orderBy(col("rs").desc, col("a").asc_nulls_first, col("b").asc_nulls_first)
        .limit(5)
      p2.collect()
      assert(p2.queryExecution.executedPlan.collect {
        case s: graft.plans.SortedRunAggExec if s.topN.isDefined => s
      }.isEmpty)
    }
  }

  test("guards: unsorted child, two remaining keys, string remainder keep the hash aggregate") {
    withAqe(false) { withRule(true) {
      // unsorted: repartition only
      val unsorted = spark.range(1000).selectExpr("CAST(id % 10 AS INT) AS a", "id AS v")
        .repartition(4, col("a"))
        .groupBy("a").agg(sum(col("v")).as("s"))
      assert(unsorted.queryExecution.executedPlan.collect {
        case s: graft.plans.SortedRunAggExec => s }.isEmpty)
      // two remaining keys
      val twoRem = base.groupBy("a", "b", "l").agg(sum(col("d")).as("s"))
      assert(twoRem.queryExecution.executedPlan.collect {
        case s: graft.plans.SortedRunAggExec => s }.isEmpty)
      // string remainder over a NON-columnar child: the direct-loop
      // guard still declines (r12b supports string run keys, but only
      // where the batch/direct-ordinal loop engages)
      val strRem = spark.range(1000)
        .selectExpr("CAST(id % 10 AS INT) AS a", "CAST(id % 3 AS STRING) AS s", "id AS v")
        .repartition(4, col("a")).sortWithinPartitions("a")
        .groupBy("a", "s").agg(sum(col("v")).as("sv"))
      assert(strRem.queryExecution.executedPlan.collect {
        case s: graft.plans.SortedRunAggExec => s }.isEmpty)
    } }
  }

  // r12b: string run keys (ClickBench GROUP BY UserID, SearchPhrase over
  // the UserID-clustered cache) — interned per partition, translated
  // back at drain; NULL and '' keys stay distinct groups
  private lazy val strBase: DataFrame = {
    val df = spark.range(60000).selectExpr(
      "CASE WHEN id % 997 = 0 THEN NULL ELSE CAST(id % 3000 AS INT) END AS a",
      "CASE WHEN id % 13 = 0 THEN NULL WHEN id % 7 = 0 THEN '' " +
        "ELSE concat('ph_', id % 11) END AS s",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 9 AS DOUBLE) END AS d",
      "id % 5 AS l")
      .repartition(8, col("a")).sortWithinPartitions("a").cache()
    df.count()
    df
  }

  test("string run key streams over the clustered cache, results identical") {
    withAqe(false) {
      def sq() = strBase.groupBy("a", "s").agg(
        count(lit(1)).as("n"), sum(col("d")).as("sd"), sum(col("l")).as("sl"),
        min(col("d")).as("mn"), max(col("d")).as("mx"))
      withRule(true) {
        val plan = sq().queryExecution.executedPlan
        assert(plan.collect { case s: graft.plans.SortedRunAggExec => s }.nonEmpty,
          plan.toString.take(2000))
      }
      val on = withRule(true)(
        sq().orderBy(col("a").asc_nulls_first, col("s").asc_nulls_first)
          .collect().toSeq)
      val off = withRule(false)(
        sq().orderBy(col("a").asc_nulls_first, col("s").asc_nulls_first)
          .collect().toSeq)
      assert(on.size == off.size && on == off, s"sizes ${on.size}/${off.size}")
    }
  }

  test("string run key: zero-aggregate dedup + LIMIT early-exits the stream") {
    withAqe(false) { withRule(true) {
      // the cb_q18 shape: distinct (prefix, string) with an inner LIMIT —
      // the streaming iterator lets LocalLimit cut the scan short
      def dq() = strBase.select("a", "s").distinct().limit(7)
      val plan = dq().queryExecution.executedPlan
      assert(plan.collect { case s: graft.plans.SortedRunAggExec => s }.nonEmpty,
        plan.toString.take(2000))
      assert(dq().collect().length == 7)
      // and the unlimited dedup matches the rule-off result exactly
      def full() = strBase.select("a", "s").distinct()
        .orderBy(col("a").asc_nulls_first, col("s").asc_nulls_first)
      val on = full().collect().toSeq
      val off = withRule(false)(full().collect().toSeq)
      assert(on == off)
    } }
  }

  test("string run key declines the fused top-n (interned order is not string order)") {
    withAqe(false) { withRule(true) {
      val q = strBase.groupBy("a", "s").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a").asc_nulls_first, col("s").asc_nulls_first)
        .limit(5)
      val execs = q.queryExecution.executedPlan.collect {
        case s: graft.plans.SortedRunAggExec => s }
      assert(execs.nonEmpty && execs.forall(_.topN.isEmpty),
        q.queryExecution.executedPlan.toString.take(2000))
      val on = q.collect().toSeq
      val off = withRule(false)(q.collect().toSeq)
      assert(on == off)
    } }
  }
}
