package graft

import org.apache.spark.sql.SparkSession

/** Standing micro-benchmark regression gate over the custom rule stack
  * — the reference's scripts/regression_check.py discipline applied to
  * this engine's physical rules. One anchor query per rule; each is run
  * INTERLEAVED rule-on/rule-off in one JVM (so host phase drift
  * cancels) and the on/off ratio is compared against the recorded floor
  * in tools/micro_floors.json. Two failure modes, both loud:
  *
  *  - the rule stopped firing on its anchor query (plan no longer
  *    contains the rule's node) — a silent-rule-death regression;
  *  - the on/off ratio exceeds recorded × [[Tolerance]] — the rule got
  *    slower relative to stock, a rule-interaction regression that
  *    absolute timings on a noisy box cannot see.
  *
  * Record floors: GRAFT_MICRO_RECORD=1 sbt "runMain graft.BenchMicro"
  * Gate (per round): sbt "runMain graft.BenchMicro" — exit 1 on breach.
  */
object BenchMicro {

  val Tolerance = 1.3

  /** Stock-lane tolerance (vs micro_ref_scan in the same JVM). */
  val StockTolerance = 1.5

  /** Stock Catalyst shapes with no rule to toggle — gated as a ratio
    * to micro_ref_scan (see the stock lane below and
    * [[graft.queries.MicroShapes]]).
    */
  private val stockShapes: Seq[(String, String)] = Seq(
    ("stock_cast_tower", "micro_cast_tower"),
    ("stock_wide_case", "micro_wide_case"),
    ("stock_in_list", "micro_in_list"),
    ("stock_bnlj", "micro_bnlj"),
    ("stock_window_frame", "micro_window_frame"),
    ("stock_arith_tower", "micro_arith_tower"),
    ("stock_like_family", "micro_like_family"),
    ("stock_date_cast", "micro_date_cast"),
    ("stock_large_groupby", "micro_large_groupby"),
    ("stock_join_key_cast", "micro_join_key_cast"))

  /** (shape name, the `spark.graft.disabled` name it toggles, anchor
    * query, plan substring proving the rule fired; null = perf-only pair
    * with no structural pin).
    */
  private def shapes: Seq[(String, String, String, String)] = Seq(
    ("vector_read", "VectorizedCacheRead",
      "q1_pricing_summary", null),
    ("packed_long_key", "PackedShuffleAgg",
      "h2o_range_agg", "PackedPartialAgg"),
    ("packed_agg", "PackedShuffleAgg",
      "cb_count_distinct_pairs", "PackedPartialAgg"),
    ("packed_selection", "PackedAgg.selectionFold",
      "cb_q15", null),
    ("sorted_run", "SortedRunAggRule",
      "cb_filter_multi_agg", "SortedRunAgg"),
    ("bounded_driver_agg", "BoundedKeyDriverAgg",
      "cb_date_histogram", "DriverGroupAgg"),
    ("dict_keys", "PackedAgg.dictKeys",
      "thq01", null),
    ("fused_distinct", "FuseSingleDistinct",
      "h2o_count_distinct", "Distinct"),
    ("topn_through_agg", "TopNThroughAgg",
      "topk_lineitem", null),
    ("session_count", "SessionCountRule",
      "events_sessionize_lag", null),
    ("stream_window", "StreamingWindow",
      "window_lead_lag", null),
    ("fast_regex", "FastRegexpExtract",
      "cb_regex_key", null),
    ("fast_percentile", "FastPercentileRule",
      "agg_quantiles", "fast_percentile"),
    // no plan pin: standalone CacheFilterExec no longer survives in the
    // gated plans (the agg partials fold it as a DictSelection — r14's
    // ungrouped route took the last holdout, cb_like_count);
    // DictFilterSpec pins the node structurally at unit level. On cb_q15
    // the toggle still gates whether the packed partial can fold at all
    // (its fold matches CacheFilterExec, which this rule produces).
    ("dict_filter", "DictFilterScan",
      "cb_q15", null),
    ("single_phase", "SinglePhaseAgg",
      "cb_q16", null),
    ("collapse_agg", "CollapsePartialAggregate",
      "q18_large_volume", null),
    ("ungrouped_driver_agg", "DriverAgg.ungrouped",
      "micro_ref_scan", "DriverGroupAgg"),
    ("str_bcast_join", "StringBcastJoinRule",
      "h2o_j04", "StringBcastJoin"),
    ("window_topk", "WindowTopKToAgg",
      "window_topk_group", "graft_top_k_rows"))

  private def floorsPath = ToolPaths.toolsDir.resolve("micro_floors.json")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val record = sys.env.contains("GRAFT_MICRO_RECORD")
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.cacheMode = true
    val probe = spark.sparkContext.parallelize(1 to 32, 32)
    (1 to 120).foreach(_ => probe.count())

    val floors: Map[String, Double] =
      if (record) Map.empty
      else {
        val txt = scala.util.Try(java.nio.file.Files.readString(floorsPath))
          .getOrElse("{}")
        """"([a-z_0-9]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }

    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val df = fn(spark, sfDir)
      df.queryExecution.executedPlan
      val t0 = System.nanoTime()
      df.collect()
      (System.nanoTime() - t0) / 1e6
    }

    var failures = 0
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    shapes.foreach { case (shape, arm, qname, node) =>
      val fn = SparkEntry.queries(qname)
      def set(on: Boolean): Unit =
        if (on) spark.conf.unset("spark.graft.disabled")
        else spark.conf.set("spark.graft.disabled", arm)
      set(true)
      if (node != null) {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (!plan.contains(node)) {
          println(s"[micro] FAIL $shape: rule no longer fires on $qname " +
            s"(plan lacks '$node')")
          failures += 1
        }
      }
      try {
        set(true); (1 to 2).foreach(_ => timed(fn))
        set(false); (1 to 2).foreach(_ => timed(fn))
        val a = scala.collection.mutable.ArrayBuffer.empty[Double]
        val b = scala.collection.mutable.ArrayBuffer.empty[Double]
        (1 to 7).foreach { _ =>
          set(true); a += timed(fn)
          set(false); b += timed(fn)
        }
        val am = a.sorted.apply(a.length / 2)
        val bm = b.sorted.apply(b.length / 2)
        val ratio = am / bm
        results(shape) = ratio
        // floors cap at 1.0: a kept-for-posture rule whose recorded
        // interleaved ratio sits above parity (dict_keys, single_phase)
        // must still gate from parity — otherwise the xTolerance band
        // stacks on the above-parity floor and a real regression to
        // ~1.4x passes silently
        val floor = floors.get(shape).map(math.min(_, 1.0))
        val verdict = floor match {
          case _ if record => "recorded"
          case Some(f) if ratio > f * Tolerance =>
            failures += 1; f"REGRESSION (floor $f%.3f x$Tolerance)"
          case Some(f) => f"ok (floor $f%.3f)"
          case None => "no floor (run GRAFT_MICRO_RECORD=1)"
        }
        println(f"[micro] $shape%-20s $qname%-24s on=${am}%7.1f ms  " +
          f"off=${bm}%7.1f ms  ratio=${ratio}%.3f  $verdict")
      } finally set(true)
    }

    // STOCK-path lane (reference benchmark/micro/ discipline): no rule
    // to toggle, so each shape interleaves against micro_ref_scan in
    // the same JVM and gates on the cross-shape ratio — host phase
    // drift hits both sides of every iteration pair. Wider tolerance
    // than the on/off lane: the two sides are different plans, so
    // cache/codegen phase effects do not cancel as exactly.
    val refFn = SparkEntry.queries("micro_ref_scan")
    stockShapes.foreach { case (shape, qname) =>
      val fn = SparkEntry.queries(qname)
      (1 to 2).foreach { _ => timed(refFn); timed(fn) }
      val a = scala.collection.mutable.ArrayBuffer.empty[Double]
      val b = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to 7).foreach { _ => b += timed(refFn); a += timed(fn) }
      val am = a.sorted.apply(a.length / 2)
      val bm = b.sorted.apply(b.length / 2)
      val ratio = am / bm
      results(shape) = ratio
      val floor = floors.get(shape)
      val verdict = floor match {
        case _ if record => "recorded"
        case Some(f) if ratio > f * StockTolerance =>
          failures += 1; f"REGRESSION (floor $f%.3f x$StockTolerance)"
        case Some(f) => f"ok (floor $f%.3f)"
        case None => "no floor (run GRAFT_MICRO_RECORD=1)"
      }
      println(f"[micro] $shape%-20s $qname%-24s t=${am}%7.1f ms  " +
        f"ref=${bm}%7.1f ms  ratio=${ratio}%.3f  $verdict")
    }

    if (record) {
      val json = results.map { case (k, v) => s""""$k": ${f"$v%.4f"}""" }
        .mkString("{\n  ", ",\n  ", "\n}\n")
      java.nio.file.Files.writeString(floorsPath, json)
      println(s"[micro] recorded ${results.size} floors to $floorsPath")
    }
    println(s"[micro] == ${if (failures == 0) "PASS" else s"$failures FAILURES"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
