package graft

import org.apache.spark.sql.SparkSession

/** TPC-DS as a PERFORMANCE suite (reference: benchmark/tpcds/) — run the
  * heaviest verbatim query texts over a factor-scaled TpcdsFixture and
  * print medians for the same-hour DuckDB pairing
  * (tools/bench_tpcds_duckdb.py reads the dir this main prints).
  *
  * Protocol: probe fingerprint before/after, 2 warmups + median of 5 per
  * query (these are multi-CTE towers, not sub-50 ms shapes). Both
  * engines read the SAME scaled parquet cold-ish from the OS page cache
  * (no columnar cache on the Spark side — the pairing exercises
  * scan + plan + execute symmetrically).
  *
  * Usage: SPARK_GRAFT_DS_FACTOR=10 sbt "runMain graft.BenchTpcdsScale [dsqNN ...]"
  */
object BenchTpcdsScale {
  val defaultNames: Seq[String] = Seq(
    "dsq23", "dsq14", "dsq64", "dsq67", "dsq04", "dsq11", "dsq74",
    "dsq95", "dsq78", "dsq75", "dsq31", "dsq59")

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_DS_FACTOR", "10").toLong
    val names = if (args.nonEmpty) args.toSeq else defaultNames
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      // same protocol as Bench/BenchOlap: AQE off at bench scale — its
      // per-stage materialization barriers and size-based coalescing
      // (observed: an 831 ms single-task stage in dsq95) cost more than
      // runtime replanning earns on tens-of-MB inputs; ON for real
      // deployments via GraftSession.tune
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

    if (sys.env.get("GRAFT_DS_STAGES").contains("1")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val st = s.stageInfo
            val tm = st.taskMetrics
            System.err.println(f"[stage ${st.stageId}] tasks=${st.numTasks} " +
              f"run=${tm.executorRunTime}ms cpu=${tm.executorCpuTime / 1000000}ms " +
              f"shWriteMB=${tm.shuffleWriteMetrics.bytesWritten / 1048576} " +
              f"shRecords=${tm.shuffleWriteMetrics.recordsWritten}")
          }
        })
    }
    val dir = graft.sources.TpcdsFixture.ensureScaled(spark, factor)
    println(s"scaled_dir=$dir factor=$factor")
    graft.sources.TpcdsFixture.tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    // warm-engine arm: pin every table in the Tungsten columnar cache
    // (the warehouse buffer-pool state BASELINE.md measures DuckDB in —
    // its fact tables sit in the OS page cache either way, but Spark's
    // per-run parquet decode is real work the cache removes)
    if (sys.env.get("GRAFT_DS_CACHE").contains("1")) {
      graft.sources.TpcdsFixture.tables.foreach { t =>
        spark.catalog.cacheTable(t)
        spark.table(t).count()
      }
    }
    println(f"probe_job_ms_before=${probeMs()}%.1f")

    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val decomp = sys.env.get("GRAFT_DS_DECOMP").contains("1")
    // materialized-CTE arm (default ON; GRAFT_DS_CTE=0 reverts): each
    // run pays the CTE materialization INSIDE its timed region (build +
    // query + unpersist — the reference times its physical_cte sink the
    // same way). No-op for queries without multi-referenced CTE defs.
    // r12: dsq14 4656→2915, dsq04 1415→853, dsq11 888→549, dsq74
    // 705→409, dsq23 7797→6879 (same-hour medians, warm arm).
    val cteArm = !sys.env.get("GRAFT_DS_CTE").contains("0")
    names.foreach { name =>
      val sql = queries.TpcdsVerbatim.texts(name)
      def once(): Unit =
        if (cteArm)
          graft.plans.CteMaterializer.withMaterializedCtes(spark, sql) {
            spark.sql(sql).collect()
          }
        else spark.sql(sql).collect()
      (1 to 2).foreach(_ => once())
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e6
      }
      println(f"[dsbench] $name%-8s median=${med(ts)}%8.1f ms  runs=${
        ts.map(t => f"$t%.0f").mkString(",")}")
      if (decomp) {
        // r10b planning-share decomposition: plan-only (force the
        // executedPlan, no jobs) vs pre-planned re-exec (collect on ONE
        // built DataFrame; planning done once)
        val plan = med((1 to 5).map { _ =>
          val t0 = System.nanoTime()
          spark.sql(sql).queryExecution.executedPlan
          (System.nanoTime() - t0) / 1e6
        })
        val prebuilt = spark.sql(sql)
        prebuilt.collect()
        val reexec = med((1 to 5).map { _ =>
          val t0 = System.nanoTime()
          prebuilt.collect()
          (System.nanoTime() - t0) / 1e6
        })
        println(f"[dsdecomp] $name%-8s plan=$plan%8.1f ms  reexec=$reexec%8.1f ms" +
          f"  plan_share=${100 * plan / med(ts)}%4.1f%%")
      }
    }
    println(f"probe_job_ms_after=${probeMs()}%.1f")
    spark.stop()
  }
}
