package graft

import org.apache.spark.sql.SparkSession

/** Verbatim TPC-H as a PERFORMANCE suite — all 22 reference texts over a
  * factor-scaled TpchFixture (factor 100 = dbgen SF1 row counts: 6M
  * lineitem, 1.5M orders), paired same-hour vs DuckDB
  * (tools/bench_tpch_duckdb.py reads the dir this main prints).
  *
  * Protocol mirrors BenchTpcdsScale's timing loop: probe fingerprints,
  * 2 warmups + median of 5, AQE off at bench scale (SPARK_GRAFT_AQE=true
  * to flip). Cache arm differs by DEFAULT: the warm hash-clustered
  * columnar cache (Tables()) is ON here — GRAFT_DS_CACHE=0 opts OUT to
  * cold parquet scans — whereas BenchTpcdsScale is cache-opt-IN. PERF.md
  * rows from this main are therefore "warm columnar cache vs DuckDB
  * re-reading parquet" unless the row says cold-arm; the pairing is
  * argued in PERF.md (warehouse buffer-pool state, BASELINE.md protocol).
  *
  * Usage: SPARK_GRAFT_TPCH_FACTOR=100 sbt "runMain graft.BenchTpchScale [thqNN ...]"
  */
object BenchTpchScale {
  /** Registers the fixture tables in `dir` as temp views. `cached` is the
    * warm-engine protocol (the state the repo's other sf1 pairings run
    * in, and the warehouse buffer-pool state BASELINE.md measures DuckDB
    * in): the tables go through Tables() — hash-clustered + sorted
    * columnar cache with day-range/ndv statistics metadata. Otherwise
    * the views re-read parquet cold.
    */
  def register(spark: SparkSession, dir: String, cached: Boolean): Unit =
    graft.sources.TpchFixture.tables.foreach { t =>
      if (cached) {
        Tables.cacheMode = true
        Tables(spark, dir, t).createOrReplaceTempView(t)
      } else {
        spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      }
    }

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_TPCH_FACTOR", "100").toLong
    val names = if (args.nonEmpty) args.toSeq
      else queries.TpchVerbatim.texts.keys.toSeq.sorted
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      // bench-scale floor (r11 plan audit): size-based coalescing once
      // serialized dsq95's 3M-row shuffle into ONE 831 ms task; at this
      // suite's local[32] keep AQE from coalescing below the core count
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", "32")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = spark.sparkContext.parallelize(1 to 32, 32)
    (1 to 120).foreach(_ => probe.count())
    def probeMs(): Double = {
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => probe.count())
      (System.nanoTime() - t0) / 2e7
    }

    val dir = graft.sources.TpchFixture.ensureScaled(spark, factor)
    println(s"scaled_dir=$dir factor=$factor")
    // probe gate (same defense as Bench.scala's retry): pairing numbers
    // from a degraded scheduler phase adjudicate as noise, so wait —
    // bounded — for the dispatch floor to return to healthy before
    // timing anything. SPARK_GRAFT_PROBE_GATE_MS=0 disables.
    locally {
      val gate = sys.env.getOrElse("SPARK_GRAFT_PROBE_GATE_MS", "22").toDouble
      var tries = 0
      var p = { val t = (1 to 40).map { _ =>
        val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e6
      }.sorted; t(t.length / 2) }
      while (gate > 0 && p > gate && tries < 20) {
        println(f"[probe-gate] degraded phase: $p%.1f ms/job > $gate%.0f — waiting 30s")
        Thread.sleep(30000)
        tries += 1
        p = { val t = (1 to 40).map { _ =>
          val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e6
        }.sorted; t(t.length / 2) }
      }
    }
    // GRAFT_DS_CACHE=0 for the cold-parquet arm
    register(spark, dir, cached = !sys.env.get("GRAFT_DS_CACHE").contains("0"))
    println(f"probe_job_ms_before=${probeMs()}%.1f")

    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    names.foreach { name =>
      val sql = queries.TpchVerbatim.texts(name)
      def once(): Unit = spark.sql(sql).collect(): Unit
      (1 to 2).foreach(_ => once())
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e6
      }
      println(f"[thbench] $name%-8s median=${med(ts)}%8.1f ms  runs=${
        ts.map(t => f"$t%.0f").mkString(",")}")
      if (sys.env.contains("GRAFT_EXPLAIN")) {
        val dfx = spark.sql(sql)
        dfx.collect()
        println(dfx.queryExecution.executedPlan.toString.take(4000))
      }
    }
    println(f"probe_job_ms_after=${probeMs()}%.1f")
    spark.stop()
  }
}
