package graft

import org.apache.spark.sql.SparkSession

/** h2oai db-benchmark as a PERFORMANCE suite — the 15 reference shapes
  * (queries/H2oBoard texts) over a factor-scaled H2oFixture, paired
  * same-hour vs DuckDB (tools/bench_h2o_duckdb.py reads the dir this
  * main prints; it also regenerates tools/h2o_duck_texts.json on run so
  * the two sides cannot drift).
  *
  * Protocol matches BenchClickBench: probe gate, 2 warmups + median of
  * 5, AQE off at bench scale, warm columnar cache ON by default
  * (GRAFT_DS_CACHE=0 → cold parquet re-reads). Factor 100 = the
  * reference's G1_1e7_1e2 scale (1e7 rows, K=100).
  *
  * Usage: SPARK_GRAFT_H2O_FACTOR=100 sbt "runMain graft.BenchH2o [h2o_gNN ...]"
  */
object BenchH2o {
  /** Registers the fixture tables in `dir` as temp views (`x` as
    * `h2o_x`). `cached` loads them through the warm Tables() path (the
    * engine's table format — the same as the TPC-H bench arm), not bare
    * cacheTable: it attaches the ndv/day-range statistics metadata that
    * lets the bounded driver-finalized aggregate prove h2o's K=100
    * string/int keys low-cardinality (g01/g04-class shapes route
    * exchange-free). Otherwise the views re-read parquet cold.
    */
  def register(spark: SparkSession, dir: String, cached: Boolean): Unit =
    graft.sources.H2oFixture.tables.foreach { t =>
      val view = if (t == "x") "h2o_x" else t
      if (cached) {
        Tables.cacheMode = true
        Tables(spark, dir, t).createOrReplaceTempView(view)
      } else {
        spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(view)
      }
    }

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_H2O_FACTOR", "100").toLong
    val names = if (args.nonEmpty) args.toSeq
      else queries.H2oBoard.texts.map(_._1)
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
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

    // dump duck-dialect texts for the pair tool (full JSON escaping +
    // repo-anchored path — see ToolPaths)
    ToolPaths.writeToolJson("h2o_duck_texts.json", queries.H2oBoard.duckTexts)

    // GRAFT_H2O_DIR reuses an existing generated dir (same-dir duck
    // pairing across JVMs)
    val dir = sys.env.getOrElse("GRAFT_H2O_DIR",
      graft.sources.H2oFixture.ensureScaled(spark, factor))
    println(s"scaled_dir=$dir factor=$factor")
    register(spark, dir, cached = !sys.env.get("GRAFT_DS_CACHE").contains("0"))
    println(f"probe_job_ms_before=${probeMs()}%.1f")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val textMap = queries.H2oBoard.texts.toMap
    // materialize ENGINE-side, never funnel to the driver: g03/g05/g10
    // produce 1e5..1e7-row results at x100 (the reference materializes
    // them into a TEMP TABLE; the duck pair tool does the same), and a
    // driver collect() of 10M rows measures serialization, not the query
    def once(sql: String): Unit = { spark.sql(sql).queryExecution.toRdd.count(): Unit }
    names.foreach { name =>
      val sql = textMap(name)
      System.gc()
      (1 to 2).foreach(_ => once(sql))
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        once(sql)
        (System.nanoTime() - t0) / 1e6
      }
      println(f"[h2obench] $name%-8s median=${med(ts)}%8.1f ms  runs=${
        ts.map(t => f"$t%.0f").mkString(",")}")
    }
    println(f"probe_job_ms_after=${probeMs()}%.1f")
    spark.stop()
  }
}
