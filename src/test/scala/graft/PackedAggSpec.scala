package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rules/PackedShuffleAgg + plans/PackedAgg: multi-key / string-keyed
  * shuffled aggregation runs as the packed-payload plan, result-identical
  * to Spark's partial→exchange→final across NULL key components (incl.
  * NULL vs empty string), NULL inputs, every supported slot type, the
  * flush (multi-blob merge) path, the zero-aggregate DISTINCT form, and
  * the PartialMerge buffer-mode level of the distinct rewrite.
  * Aggregate inputs are small exact-in-double integers so the
  * differential compare is exact despite reordered FP addition.
  */
class PackedAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def data() = spark.range(50000).selectExpr(
    // long key with NULLs
    "CASE WHEN id % 97 = 0 THEN NULL ELSE id % 50 END AS k",
    // string key with NULLs AND empty strings (must stay distinct groups)
    "CASE WHEN id % 89 = 0 THEN NULL WHEN id % 7 = 0 THEN '' " +
      "ELSE concat('grp_', id % 40) END AS s",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 7 AS DOUBLE) END AS d",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE id % 5 END AS l")

  private def query() = data().groupBy("k", "s").agg(
    count(lit(1)).as("n"), count(col("d")).as("nd"),
    sum(col("d")).as("sd"), sum(col("l")).as("sl"),
    avg(col("l")).as("al"),
    min(col("d")).as("mnd"), max(col("d")).as("mxd"),
    min(col("l")).as("mnl"), max(col("l")).as("mxl"))

  private def withAqe[A](on: Boolean)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def packedOff[A](f: => A): A = {
    graft.rules.PackedShuffleAgg.enabled = false
    try f finally graft.rules.PackedShuffleAgg.enabled = true
  }

  test("(long, string) keys plan the packed aggregate, no HashAggregate pair") {
    withAqe(false) {
      val plan = query().queryExecution.executedPlan
      assert(plan.collect { case p: graft.plans.PackedFinalAggExec => p }.nonEmpty,
        plan.toString.take(2000))
      assert(plan.collect { case p: graft.plans.PackedPartialAggExec => p }.nonEmpty)
      assert(plan.collect { case h: HashAggregateExec => h }.isEmpty)
    }
  }

  test("results identical to the Spark plan, AQE on and off, NULL and '' key groups") {
    def run(): Seq[Row] = query()
      .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first).collect().toSeq
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val on = run()
      val off = packedOff(run())
      assert(on.size > 50) // many (k, s) combos incl. null/empty-string rows
      assert(on == off, s"aqe=$aqe first diff: ${
        on.zip(off).find { case (a, b) => a != b }}")
    }
  }

  test("single string key (radix-unsupported) routes packed, results identical") {
    withAqe(false) {
      def q() = data().groupBy("s").agg(
        sum(col("l")).as("sl"), avg(col("d")).as("ad"), count(lit(1)).as("n"))
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy(col("s").asc_nulls_first).collect().toSeq
      val off = packedOff(q().orderBy(col("s").asc_nulls_first).collect().toSeq)
      assert(on == off)
    }
  }

  test("three keys incl. date/timestamp widen and convert back exactly") {
    withAqe(false) {
      val d = spark.range(30000).selectExpr(
        "date_add(DATE'2001-03-04', CAST(id % 100 AS INT)) AS dt",
        "timestamp_micros(1000000 * (id % 50)) AS ts",
        "CAST(id % 3 AS INT) AS i",
        "id % 9 AS v")
      def q() = d.groupBy("dt", "ts", "i")
        .agg(sum(col("v")).as("sv"), max(col("v")).as("mx"))
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy("dt", "ts", "i").collect().toSeq
      val off = packedOff(q().orderBy("dt", "ts", "i").collect().toSeq)
      assert(on.size == 300 && on == off) // keys correlated: id mod lcm(100,50,3)
    }
  }

  test("SELECT DISTINCT (zero-aggregate Final form) is packed and exact") {
    withAqe(false) {
      def q() = data().select("k", "s").distinct()
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
        .collect().toSeq
      val off = packedOff(
        q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
          .collect().toSeq)
      assert(on == off)
    }
  }

  test("distinct rewrite: PartialMerge level runs packed in buffer mode") {
    // count(DISTINCT s) + ridealong aggs grouped by a long-unsupported
    // combo: the inner (k, s) dedup exchange is the packed target
    def q() = data().groupBy("s").agg(
      countDistinct(col("k")).as("ndk"),
      sum(col("d")).as("sd"), count(lit(1)).as("n"))
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val on = q().orderBy(col("s").asc_nulls_first).collect().toSeq
      val off = packedOff(q().orderBy(col("s").asc_nulls_first).collect().toSeq)
      assert(on == off, s"aqe=$aqe")
    }
    withAqe(false) {
      val plan = q().queryExecution.executedPlan
      assert(plan.collect {
        case p: graft.plans.PackedFinalAggExec if p.bufferMode => p }.nonEmpty,
        plan.toString.take(2000))
    }
  }

  test("flush path: multi-blob fragments merge to the same result") {
    val prev = graft.plans.PackedAgg.flushCapOverride
    graft.plans.PackedAgg.flushCapOverride = 64
    try withAqe(false) {
      val on = query()
        .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first).collect().toSeq
      graft.plans.PackedAgg.flushCapOverride = prev
      val off = packedOff(query()
        .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first).collect().toSeq)
      assert(on == off)
    } finally graft.plans.PackedAgg.flushCapOverride = prev
  }

  test("adaptive pass-through: no-reduction input switches mid-partition, results identical") {
    // near-unique composite keys so the 0.75 group/row ratio trips at the
    // lowered check point; mixed with the map-phase prefix the reducer
    // merges map blobs AND one-row pass-through fragments of the SAME
    // groups (each id value appears twice → real cross-fragment merges)
    val (prevCheck, prevRatio) = (graft.plans.PackedAgg.passThroughCheckRows,
      graft.plans.PackedAgg.passThroughGroupRatio)
    graft.plans.PackedAgg.passThroughCheckRows = 256
    try withAqe(false) {
      def src() = spark.range(40000).selectExpr(
        "CAST(id % 20000 AS LONG) AS k",
        "CASE WHEN id % 37 = 0 THEN NULL ELSE concat('u_', id % 20000) END AS s",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END AS v")
      def q() = src().groupBy("k", "s").agg(
        count(lit(1)).as("n"), sum(col("v")).as("sv"),
        avg(col("v")).as("av"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy(col("k"), col("s").asc_nulls_first).collect().toSeq
      graft.plans.PackedAgg.passThroughCheckRows = prevCheck
      val off = packedOff(
        q().orderBy(col("k"), col("s").asc_nulls_first).collect().toSeq)
      assert(on.size == off.size && on == off,
        s"sizes ${on.size}/${off.size}; first diff: ${
          on.zip(off).find { case (a, b) => a != b }}")
    } finally {
      graft.plans.PackedAgg.passThroughCheckRows = prevCheck
      graft.plans.PackedAgg.passThroughGroupRatio = prevRatio
    }
  }

  test("ORDER BY aggregate LIMIT fuses a per-partition top-K into emission") {
    withAqe(false) {
      // total order (count desc, then keys) with heavy count ties — the
      // per-partition retention must agree with the unpruned plan
      def q() = data().groupBy("k", "s").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("k").asc_nulls_first, col("s").asc_nulls_first)
        .limit(7)
      val plan = q().queryExecution.executedPlan
      val fins = plan.collect { case p: graft.plans.PackedFinalAggExec => p }
      assert(fins.nonEmpty && fins.forall(_.topK.exists(_.limit == 7)),
        plan.toString.take(2000))
      val on = q().collect().toSeq
      val off = packedOff(q().collect().toSeq)
      assert(on == off)
    }
  }

  test("unsupported shapes keep Spark's aggregate") {
    withAqe(false) {
      // decimal sum — no slot encoding
      val dec = data().groupBy("k", "s")
        .agg(sum(col("d").cast("decimal(20,2)")).as("x"))
      assert(dec.queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.isEmpty)
      // a FILTER clause folds into the slot input and routes packed,
      // with the stock plan's rows
      def filt() = data().groupBy("k", "s")
        .agg(expr("sum(l) FILTER (WHERE d > 2)").as("x"))
        .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
      assert(filt().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      assert(filt().collect().toSeq == packedOff(filt().collect().toSeq))
      // single long key stays on the radix route
      val single = data().groupBy("k").agg(sum(col("l")).as("x"))
      assert(single.queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.isEmpty)
      assert(single.queryExecution.executedPlan.collect {
        case r: graft.plans.RadixFinalAggExec => r }.nonEmpty)
    }
  }

  test("columnar cache scan feeds the packed partial batch-direct") {
    withAqe(false) {
      val t = data()
      t.createOrReplaceTempView("packed_src")
      spark.sql("CACHE TABLE packed_cache AS SELECT * FROM packed_src")
      try {
        def q() = spark.table("packed_cache").groupBy("k", "s")
          .agg(sum(col("l")).as("sl"), count(lit(1)).as("n"))
        val partials = q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(partials.nonEmpty)
        assert(partials.forall(_.columnarChild),
          q().queryExecution.executedPlan.toString.take(2000))
        val on = q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
          .collect().toSeq
        val off = packedOff(
          q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
            .collect().toSeq)
        assert(on == off)
      } finally spark.sql("UNCACHE TABLE packed_cache")
    }
  }

  test("cache filter folds into the batch-direct packed partial; dict keys equivalent") {
    withAqe(false) {
      val t = data()
      t.createOrReplaceTempView("packed_src2")
      spark.sql("CACHE TABLE packed_cache2 AS SELECT * FROM packed_src2")
      try {
        def q() = spark.table("packed_cache2")
          .filter("s IS NOT NULL AND s <> ''")
          .groupBy("k", "s")
          .agg(sum(col("l")).as("sl"), count(lit(1)).as("n"))
          .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
        val partials = q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(partials.nonEmpty && partials.forall(p =>
          p.columnarChild && p.selection.nonEmpty),
          q().queryExecution.executedPlan.toString.take(2000))
        val folded = q().collect().toSeq
        // fold off: row-path packed through the CacheFilter iterator
        graft.plans.PackedAgg.selectionFoldEnabled = false
        val unfolded = try q().collect().toSeq
          finally graft.plans.PackedAgg.selectionFoldEnabled = true
        // dict-id keys off: per-row string hashing in the batch loop
        graft.plans.PackedAgg.dictKeysEnabled = false
        val noDict = try q().collect().toSeq
          finally graft.plans.PackedAgg.dictKeysEnabled = true
        val stock = packedOff(q().collect().toSeq)
        assert(folded == stock)
        assert(unfolded == stock)
        assert(noDict == stock)
      } finally spark.sql("UNCACHE TABLE packed_cache2")
    }
  }

  test("direct single-string-key driver agg arm equals the probe arm") {
    withAqe(false) {
      // ndv metadata (normally attached by the Tables stats pass) so
      // BoundedKeyDriverAgg can prove the key domain
      val t = data().withMetadata("s",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.ndvBound", 64L).build())
      t.createOrReplaceTempView("direct_src")
      spark.sql("CACHE TABLE direct_cache AS SELECT * FROM direct_src")
      try {
        // single string key with NULL and '' groups → bounded driver agg
        def q() = spark.sql(
          """SELECT s, count(*) AS n, sum(l) AS sl FROM direct_cache
            |GROUP BY s ORDER BY s NULLS FIRST""".stripMargin)
        assert(q().queryExecution.executedPlan.collect {
          case d: graft.plans.DriverGroupAggExec => d }.nonEmpty)
        val direct = q().collect().toSeq
        graft.plans.DriverAgg.directStringArm = false
        val probed = try q().collect().toSeq
          finally graft.plans.DriverAgg.directStringArm = true
        assert(direct == probed)
      } finally spark.sql("UNCACHE TABLE direct_cache")
    }
  }
}
