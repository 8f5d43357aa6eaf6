package graft

import org.apache.spark.sql.SparkSession

/** ClickBench as a PERFORMANCE suite — the 43 reference shapes
  * (queries/ClickBench.scala texts) over a factor-scaled HitsFixture,
  * paired same-hour vs DuckDB (tools/bench_cb_duckdb.py reads the dir
  * this main prints).
  *
  * Protocol matches BenchTpchScale: probe gate (wait for a healthy
  * dispatch floor), 2 warmups + median of 5, AQE off at bench scale
  * (SPARK_GRAFT_AQE=true flips), warm columnar cache ON by default
  * (GRAFT_DS_CACHE=0 → cold parquet re-reads per run).
  *
  * Usage: SPARK_GRAFT_HITS_FACTOR=20 sbt "runMain graft.BenchClickBench [cb_qNN ...]"
  */
object BenchClickBench {
  /** Registers `hits` from `dir` as a temp view. `cached` uses the
    * annotating loader (Tables): the columnar cache plus the NDV/day-range
    * column metadata the stats-routed rules consume (BoundedKeyDriverAgg,
    * SinglePhaseAgg); otherwise the view re-reads parquet cold.
    */
  def register(spark: SparkSession, dir: String, cached: Boolean): Unit =
    if (cached) {
      Tables.cacheMode = true
      Tables(spark, dir, "hits").createOrReplaceTempView("hits")
      spark.table("hits").count()
    } else {
      spark.read.parquet(s"$dir/hits.parquet").createOrReplaceTempView("hits")
    }

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_HITS_FACTOR", "20").toLong
    val names = if (args.nonEmpty) args.toSeq
      else queries.ClickBench.texts.map(_._1)
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
      val t = (1 to 40).map { _ =>
        val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e6
      }.sorted
      t(t.length / 2)
    }

    // GRAFT_HITS_DIR reuses an existing generated dir (cross-JVM pairing)
    val dir = sys.env.getOrElse("GRAFT_HITS_DIR",
      graft.sources.HitsFixture.ensureScaled(spark, factor))
    println(s"scaled_dir=$dir factor=$factor")
    register(spark, dir, cached = !sys.env.get("GRAFT_DS_CACHE").contains("0"))
    // probe gate: don't time in a degraded scheduler phase
    locally {
      val gate = sys.env.getOrElse("SPARK_GRAFT_PROBE_GATE_MS", "22").toDouble
      var tries = 0
      var p = probeMs()
      while (gate > 0 && p > gate && tries < 20) {
        println(f"[probe-gate] degraded phase: $p%.1f ms/job > $gate%.0f — waiting 30s")
        Thread.sleep(30000)
        tries += 1
        p = probeMs()
      }
      println(f"probe_job_ms_before=$p%.1f")
    }

    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val textMap = queries.ClickBench.texts.toMap
    names.foreach { name =>
      val sql = textMap(name)
      // suite hygiene: collect the PREVIOUS query's garbage before this
      // one is timed — the groups≈rows shapes (q33-class) leave ~GBs of
      // dead builder/blob allocations that otherwise GC-strike whichever
      // query runs next (r12's q09/q14 "suite wobble", r13's q34)
      System.gc()
      (1 to 2).foreach(_ => spark.sql(sql).collect())
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e6
      }
      println(f"[cbbench] $name%-8s median=${med(ts)}%8.1f ms  runs=${
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
