package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Interleaved same-JVM A/B of two session settings over one query set.
  *
  * Each arm is a map of session confs (`spark.graft.*` or any Spark SQL
  * conf); the harness sets an arm's keys before each run and restores the
  * session's values after, so both arms share one warm JVM, cache and
  * fixture and host drift cancels. Per query:
  *  1. arm identity: both arms' rows, sorted, must be EXACTLY equal
  *     (a mismatch is reported and the main exits 1);
  *  2. `Warmups` runs per arm, then `Runs` A/B pairs alternating;
  *  3. one line with each arm's median and the ratio b/a.
  *
  * Usage:
  *   sbt "runMain graft.BenchAB <suite> <armA> <armB> [query ...]"
  * An arm is `-` (the session's settings) or `key=value&key=value`, e.g.
  *   sbt "runMain graft.BenchAB h2o - spark.graft.disabled=PackedShuffleAgg h2o_g02 h2o_g09"
  * Suites and their fixtures (each registered by its suite harness):
  *   headline    Bench.headline over SPARK_GRAFT_SF_DIR, warm cache
  *   olap        queries.OlapShapes over SPARK_GRAFT_SF_DIR, warm cache
  *   h2o         H2oBoard over H2oFixture x SPARK_GRAFT_H2O_FACTOR (BenchH2o)
  *   clickbench  ClickBench over HitsFixture x SPARK_GRAFT_HITS_FACTOR (BenchClickBench)
  *   tpch        TpchVerbatim over TpchFixture x SPARK_GRAFT_TPCH_FACTOR (BenchTpchScale)
  *   job         JobSlice over ImdbFixture x SPARK_GRAFT_IMDB_FACTOR (BenchJob:
  *               ANALYZE'd tables, CBO join reorder, AQE on)
  * Every suite runs on local[SPARK_GRAFT_CPUS] with AQE off (but job) and
  * shuffle partitions = cores (headline: 2, as Bench).
  */
object BenchAB {
  val Warmups = 2
  val Runs = 7

  private final case class Suite(
      configure: (SparkSession.Builder, Int) => SparkSession.Builder,
      // registers the fixture; returns the query set
      load: SparkSession => Seq[(String, SparkSession => DataFrame)])

  private def factor(env: String, default: Long): Long =
    sys.env.getOrElse(env, default.toString).toLong

  private def texts(ts: Seq[(String, String)]): Seq[(String, SparkSession => DataFrame)] =
    ts.map { case (n, sql) => n -> ((s: SparkSession) => s.sql(sql)) }

  private def scanned(cores: Int)(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "false")

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("the headline and olap suites read their tables from SPARK_GRAFT_SF_DIR"))

  private val suites: Map[String, Suite] = Map(
    "headline" -> Suite((b, _) => b
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false"),
      _ => { Tables.cacheMode = true; Bench.headline.map { case (n, fn) => n -> (fn(_, sfDir)) } }),
    "olap" -> Suite((b, c) => scanned(c)(b),
      _ => {
        Tables.cacheMode = true
        queries.OlapShapes.queries.toSeq.sortBy(_._1).map { case (n, fn) => n -> (fn(_, sfDir)) }
      }),
    "h2o" -> Suite((b, c) => scanned(c)(b), spark => {
      BenchH2o.register(spark, graft.sources.H2oFixture.ensureScaled(spark,
        factor("SPARK_GRAFT_H2O_FACTOR", 100)), cached = true)
      texts(queries.H2oBoard.texts)
    }),
    "clickbench" -> Suite((b, c) => scanned(c)(b), spark => {
      BenchClickBench.register(spark, graft.sources.HitsFixture.ensureScaled(spark,
        factor("SPARK_GRAFT_HITS_FACTOR", 20)), cached = true)
      texts(queries.ClickBench.texts)
    }),
    "tpch" -> Suite((b, c) => scanned(c)(b), spark => {
      BenchTpchScale.register(spark, graft.sources.TpchFixture.ensureScaled(spark,
        factor("SPARK_GRAFT_TPCH_FACTOR", 100)), cached = true)
      texts(queries.TpchVerbatim.texts.toSeq.sortBy(_._1))
    }),
    "job" -> Suite((b, c) => b
        .config("spark.sql.shuffle.partitions", c.toString)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", c.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.warehouse.dir",
          s"${System.getProperty("java.io.tmpdir")}/graft_ab_wh_${
            java.util.UUID.randomUUID().toString.take(8)}"),
      spark => {
        BenchJob.register(spark, graft.sources.ImdbFixture.ensureScaled(spark,
          factor("SPARK_GRAFT_IMDB_FACTOR", 20)))
        texts(queries.JobSlice.texts)
      }))

  /** `-` or `key=value&key=value`. */
  def parseArm(s: String): Seq[(String, String)] =
    if (s == "-") Nil
    else s.split('&').toSeq.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"arm setting '$kv' is not key=value")
      kv.take(i) -> kv.drop(i + 1)
    }

  /** Runs `f` with `arm` set on the session, restoring the prior values. */
  def withArm[A](spark: SparkSession, arm: Seq[(String, String)])(f: => A): A = {
    val prior = arm.map { case (k, _) => k -> spark.conf.getOption(k) }
    arm.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows in a canonical order, for an exact arm compare. */
  def sortedRows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && suites.contains(args(0)),
      s"usage: BenchAB <${suites.keys.toSeq.sorted.mkString("|")}> <armA> <armB> [query ...]")
    val suite = suites(args(0))
    val (armA, armB) = (parseArm(args(1)), parseArm(args(2)))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = suite.configure(GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.ui.enabled", "false")), cores)
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = suite.load(spark)
    val picked = if (args.length > 3) args.drop(3).toSeq.map(n => n -> all.toMap.apply(n)) else all
    // the arms' keys must be valid settings before any timing starts
    withArm(spark, armA)(()); withArm(spark, armB)(())
    println(s"suite=${args(0)} cores=$cores a=${args(1)} b=${args(2)}")

    def timed(q: SparkSession => DataFrame, arm: Seq[(String, String)]): Double =
      withArm(spark, arm) {
        val t0 = System.nanoTime()
        q(spark).collect()
        (System.nanoTime() - t0) / 1e6
      }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    var mismatches = 0
    picked.foreach { case (name, q) =>
      val rowsA = withArm(spark, armA)(sortedRows(q(spark)))
      val rowsB = withArm(spark, armB)(sortedRows(q(spark)))
      if (rowsA != rowsB) {
        mismatches += 1
        println(s"[ab] $name MISMATCH rows a=${rowsA.length} b=${rowsB.length}")
      } else {
        (1 to Warmups).foreach { _ => timed(q, armA); timed(q, armB) }
        val (a, b) = (1 to Runs).map(_ => (timed(q, armA), timed(q, armB))).unzip
        println(f"[ab] $name%-24s a=${med(a)}%8.1f ms  b=${med(b)}%8.1f ms  " +
          f"b/a=${med(b) / med(a)}%.3f  rows=${rowsA.length}  " +
          f"a_runs=${a.map(t => f"$t%.0f").mkString(",")}  " +
          f"b_runs=${b.map(t => f"$t%.0f").mkString(",")}")
      }
    }
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
