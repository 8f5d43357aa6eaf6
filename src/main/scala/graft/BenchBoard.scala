package graft

/** Board timer: the median wall of each query of one suite (`Suites`),
  * for the same-host pairing with DuckDB (`tools/bench_*_duckdb.py` read
  * the `scaled_dir=` this main prints; for the suites with a pairing
  * text file it also writes that file to tools/, so the two sides cannot
  * drift).
  *
  * Protocol: a probe of the per-job dispatch floor before and after; a
  * gate that waits (30 s at a time, at most 20 times) while the probe is
  * above SPARK_GRAFT_PROBE_GATE_MS (default 22, 0 = off), so no query is
  * timed in a degraded host phase; per query a GC, 2 warm-ups, then the
  * median of 5 runs through the suite's sink.
  *
  * Usage: sbt "runMain graft.BenchBoard <suite> [factor=N] [dir=PATH] [query ...]"
  */
object BenchBoard {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: BenchBoard <${Suites.all.map(_.name).mkString("|")}> [factor=N] [dir=PATH] [query ...]")
    val suite = Suites(args(0))
    val opts = Suites.parseArgs(args.drop(1).toSeq)
    val names = suite.pick(opts.names)
    val spark = Suites.session(suite)
    Suites.probeMs(spark, 120) // heats the dispatch path
    suite.duck.foreach { case (file, texts) => ToolPaths.writeToolJson(file, texts) }

    val t0 = System.nanoTime()
    val dir = Suites.load(spark, suite, opts)
    val factor = if (suite.fixture.isEmpty || opts.dir.nonEmpty) "" else
      s" factor=${opts.factor.getOrElse(suite.factor)}"
    println(s"scaled_dir=$dir$factor")
    println(f"load_s=${(System.nanoTime() - t0) / 1e9}%.1f")

    val gate = sys.env.getOrElse("SPARK_GRAFT_PROBE_GATE_MS", "22").toDouble
    var p = Suites.probeMs(spark)
    var tries = 0
    while (gate > 0 && p > gate && tries < 20) {
      println(f"[probe-gate] degraded phase: $p%.1f ms/job > $gate%.0f — waiting 30s")
      Thread.sleep(30000)
      tries += 1
      p = Suites.probeMs(spark)
    }
    println(f"probe_job_ms_before=$p%.1f")

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      suite.run(spark, dir, name)(suite.sink)
      (System.nanoTime() - t0) / 1e6
    }
    names.foreach { name =>
      // collect the previous query's garbage before this one is timed
      System.gc()
      (1 to 2).foreach(_ => once(name))
      val ts = (1 to 5).map(_ => once(name))
      println(f"[${suite.name}] $name%-9s median=${Suites.median(ts)}%8.1f ms  runs=${
        ts.map(t => f"$t%.0f").mkString(",")}")
    }
    println(f"probe_job_ms_after=${Suites.probeMs(spark)}%.1f")
    spark.stop()
  }
}
