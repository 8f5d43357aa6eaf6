package graft

import graft.plans.GraftCacheSerializer
import graft.plans.GraftCacheSerializer.{BlobStore, DictStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** plans/ColumnarCache DictStore + plans/DictFilter + rules/DictFilterScan:
  * dictionary-encoded cached strings round-trip exactly, the dict-id
  * filter produces identical results to the stock filter for every
  * predicate family it claims, and the rewrite fires (only) on the
  * intended plan shapes.
  */
class DictFilterSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fixture(): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(50000).select(
      col("id"),
      // low-cardinality: dict-encodes (3 values + nulls)
      when(col("id") % 11 === 0, lit(null: String))
        .otherwise(concat(lit("flag_"), (col("id") % 3).cast("string"))).as("flag"),
      // high-cardinality: exceeds MaxDictEntries → spills to BlobStore
      concat(lit("u"), col("id").cast("string")).as("uid"),
      (col("id") % 7).cast("double").as("v"))
  }

  private def results(df: DataFrame, cond: String, dict: Boolean): Seq[String] =
    withGraft("DictFilterScan" -> dict) {
      df.filter(cond).selectExpr("id", "flag", "uid", "v")
        .collect().map(_.mkString("|")).sorted.toSeq
    }

  test("dict filter ≡ stock filter across the predicate families, nulls and spill included") {
    val df = fixture().cache()
    try {
      df.count() // materialize
      for (cond <- Seq(
        "flag = 'flag_1'",
        "flag <> 'flag_1'",
        "flag IN ('flag_0', 'flag_2')",
        "flag LIKE 'flag%'",
        "flag LIKE '%_2'",
        "flag IS NULL",
        "flag IS NOT NULL",
        "startswith(flag, 'flag_0')",
        "uid LIKE '%99%'",                   // spilled column → blob contains scan
        "uid NOT LIKE '%9%'",                // negated blob contains
        "uid LIKE 'u1%'",                    // blob startswith
        "uid LIKE '%7'",                     // blob endswith
        "uid = 'u777'",                      // blob equals
        "uid <> 'u777'",                     // negated blob equals
        "uid LIKE '%%'",                     // empty needle → all non-null
        "flag = 'flag_2' AND uid LIKE '%7'", // dict + blob conjuncts
        "flag = 'nope'",                     // empty result
        "length(flag) > 5"))                 // arbitrary expression on the column
        assert(results(df, cond, dict = true) == results(df, cond, dict = false), cond)
    } finally df.unpersist()
  }

  test("rewrite fires on string-only filters over the cache and nowhere else") {
    val df = fixture().cache()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      df.count()
      def plan(cond: String, proj: Seq[String] = Seq("id", "flag", "uid", "v")) =
        df.filter(cond).selectExpr(proj: _*).queryExecution.executedPlan
      def hasDictFilter(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case c: graft.plans.CacheFilterExec => c }

      assert(hasDictFilter(plan("flag <> 'flag_1'")).nonEmpty)
      // pruning project folds into the operator's output
      val pruned = hasDictFilter(plan("flag = 'flag_0'", Seq("id", "v")))
      assert(pruned.nonEmpty && pruned.head.output.map(_.name) == Seq("id", "v"))
      // mixed string + numeric conjuncts keep the stock fused filter
      assert(hasDictFilter(plan("flag = 'flag_0' AND v > 3")).isEmpty)
      // numeric-only filters keep the stock fused filter
      assert(hasDictFilter(plan("v > 3")).isEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      df.unpersist()
    }
  }

  test("dict filter results are identical with AQE on and off") {
    val df = fixture().cache()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      df.count()
      val on = results(df, "flag <> 'flag_0'", dict = true)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = results(df, "flag <> 'flag_0'", dict = true)
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      df.unpersist()
    }
  }

  test("warm cb_filter_multi_agg folds the dict filter into the batch-direct sorted-run aggregate") {
    Tables.cacheMode = true
    try {
      val df = SparkEntry.queries("cb_filter_multi_agg")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // descend through AQE query stages (leaf nodes that wrap a plan)
      def deepCollect(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[graft.plans.SortedRunAggExec] =
        p.collect { case s: graft.plans.SortedRunAggExec => Seq(s)
                    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                      deepCollect(q.plan) }.flatten
      deepCollect(plan) match {
        case Seq(s) => assert(s.columnarChild && s.selection.nonEmpty, s.toString.take(800))
        case other => fail(s"expected one SortedRunAgg, got $other in\n${plan.toString.take(1500)}")
      }
    } finally Tables.cacheMode = false
  }

  test("blobMask: crossing hits, empty strings, nulls, row-boundary adjacency") {
    import graft.plans.GraftCacheSerializer
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def store(values: Seq[String]): GraftCacheSerializer.BlobStore = {
      // force spill by exceeding the byte valve with one long value first
      val b = GraftCacheSerializer.ColumnBuilder(StringType, values.length + 1)
      val row = new GenericInternalRow(1)
      (("x" * ((1 << 20) + 1)) +: values).zipWithIndex.foreach { case (v, i) =>
        row.update(0, if (v == null) null else UTF8String.fromString(v))
        b.append(row, 0)
      }
      // drop the forcing row by rebuilding a store over the tail offsets:
      // simpler — just search rows 1.. in the assertions below
      b.result().asInstanceOf[GraftCacheSerializer.BlobStore]
    }
    // values: "abc","cab" adjacency means "bc"+"ca" spans the boundary
    val s = store(Seq("abc", "cab", "", null, "the the", "xthe"))
    def mask(op: Int, needle: String, neg: Boolean): Seq[Boolean] =
      graft.plans.DictSelection.blobMask(s, 7, (op, needle.getBytes("UTF-8"), neg)).drop(1).toSeq
    assert(mask(0, "bcca", neg = false) == Seq(false, false, false, false, false, false),
      "a hit spanning a row boundary must not match")
    assert(mask(0, "the", neg = false) == Seq(false, false, false, false, true, true))
    assert(mask(0, "ab", neg = false) == Seq(true, true, false, false, false, false))
    assert(mask(0, "ab", neg = true) == Seq(false, false, true, false, true, true),
      "negation passes non-null non-matches only")
    assert(mask(0, "", neg = false) == Seq(true, true, true, false, true, true))
    assert(mask(3, "cab", neg = false) == Seq(false, true, false, false, false, false))
    assert(mask(3, "", neg = false) == Seq(false, false, true, false, false, false))
    assert(mask(1, "ca", neg = false) == Seq(false, true, false, false, false, false))
    assert(mask(2, "he", neg = false) == Seq(false, false, false, false, true, true))
    assert(mask(4, "", neg = false) == Seq(true, true, true, false, true, true))
    assert(mask(5, "", neg = false) == Seq(false, false, false, true, false, false))
  }

  test("string builder: low cardinality yields DictStore, overflow spills to BlobStore, both round-trip") {
    def build(values: Seq[String]): GraftCacheSerializer.ColumnStore = {
      val b = GraftCacheSerializer.ColumnBuilder(StringType, values.length)
      val row = new GenericInternalRow(1)
      values.foreach { v =>
        row.update(0, if (v == null) null else UTF8String.fromString(v))
        b.append(row, 0)
      }
      b.result()
    }
    def readBack(s: GraftCacheSerializer.ColumnStore, n: Int): Seq[String] = {
      val v = new graft.plans.GraftColumnVector(StringType, s, n)
      (0 until n).map(i => if (v.isNullAt(i)) null else v.getUTF8String(i).toString)
    }

    val low = (0 until 5000).map(i => if (i % 13 == 0) null else s"v${i % 17}")
    val lowStore = build(low)
    assert(lowStore.isInstanceOf[DictStore])
    assert(lowStore.asInstanceOf[DictStore].entries == 17)
    assert(readBack(lowStore, low.length) == low)

    // > MaxDictEntries distinct values: spills mid-build and replays
    val high = (0 until GraftCacheSerializer.MaxDictEntries + 2000)
      .map(i => if (i % 31 == 0) null else s"k$i")
    val highStore = build(high)
    assert(highStore.isInstanceOf[BlobStore])
    assert(readBack(highStore, high.length) == high)

    // byte-valve spill: few entries but huge values
    val big = (0 until 40).map(i => ("x" * 40000) + (i % 30))
    val bigStore = build(big)
    assert(bigStore.isInstanceOf[BlobStore])
    assert(readBack(bigStore, big.length) == big)
  }
}
