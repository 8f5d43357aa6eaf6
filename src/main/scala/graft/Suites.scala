package graft

import graft.queries.Q
import graft.sources.{H2oFixture, HitsFixture, ImdbFixture, TpcdsFixture, TpchFixture}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every query suite the bench and plan mains run (`BenchAB`,
  * `BenchBoard`, `PlanDump`), with the fixture, session settings and
  * sink each one is measured in.
  *
  * A session for a suite is `GraftSession.tune`, then `local[cores]`
  * (`SPARK_GRAFT_CPUS`, else the host's cores) with as many shuffle
  * partitions, then the suite's settings, then every `spark.*` system
  * property: a `-Dspark....` given to the main wins over any default.
  *
  * Suites (default fixture factor in brackets):
  *   entry       every `SparkEntry` query over SPARK_GRAFT_SF_DIR, warm cache
  *   headline    `Bench.headline` over SPARK_GRAFT_SF_DIR, warm cache, 2 shuffle partitions
  *   olap        `OlapShapes` + `MicroShapes` over SPARK_GRAFT_SF_DIR, warm cache
  *   h2o         `H2oBoard` texts over `H2oFixture` [100], warm cache, engine-side sink
  *   clickbench  `ClickBench` texts over `HitsFixture` [20], warm cache
  *   tpch        `TpchVerbatim` texts over `TpchFixture` [100], warm cache
  *   tpcds       `TpcdsVerbatim` texts over `TpcdsFixture` [10], parquet views; each
  *               run materializes the text's multi-referenced CTEs inside it
  *   job         `JobSlice` texts over `ImdbFixture` [20]: ANALYZE'd catalog tables,
  *               CBO join reorder, AQE on, 10 MB broadcast threshold
  * AQE is off in every suite but `job`.
  */
object Suites {

  /** One suite. `fixture` generates the tables at a factor and returns
    * their dir (None: the tables are SPARK_GRAFT_SF_DIR's); `register`
    * makes the tables in a dir visible to `queries`.
    */
  final case class Suite(
      name: String,
      factor: Long,
      settings: Int => Seq[(String, String)],
      fixture: Option[(SparkSession, Long) => String],
      register: (SparkSession, String) => Unit,
      queries: Seq[(String, Q.Fn)],
      // h2o results reach 1e7 rows: materialize them engine-side, as the
      // reference does into a temp table, instead of on the driver
      engineSink: Boolean = false,
      // the board's query set when none is named (empty: every query)
      board: Seq[String] = Nil,
      // texts whose multi-referenced CTEs each run materializes first
      ctes: Map[String, String] = Map.empty,
      // (tools/ file, DuckDB texts) for the suite's pairing tool
      duck: Option[(String, Seq[(String, String)])] = None) {

    lazy val byName: Map[String, Q.Fn] = queries.toMap

    def names: Seq[String] = if (board.nonEmpty) board else queries.map(_._1)

    /** The named queries, each checked to be in the suite; none: `names`. */
    def pick(requested: Seq[String]): Seq[String] = {
      requested.foreach(n => require(byName.contains(n), s"suite $name has no query $n"))
      if (requested.nonEmpty) requested else names
    }

    def sink(df: DataFrame): Unit =
      if (engineSink) df.queryExecution.toRdd.count(): Unit else df.collect(): Unit

    /** Builds `query` over `dir` and hands it to `f`, inside the query's
      * CTE materialization when it has one. */
    def run[A](spark: SparkSession, dir: String, query: String)(f: DataFrame => A): A = {
      val q = byName.getOrElse(query, sys.error(s"suite $name has no query $query"))
      ctes.get(query) match {
        case Some(sql) => plans.CteMaterializer.withMaterializedCtes(spark, sql)(f(q(spark, dir)))
        case None => f(q(spark, dir))
      }
    }
  }

  private def texts(ts: Seq[(String, String)]): Seq[(String, Q.Fn)] =
    ts.map { case (n, sql) => n -> ((s: SparkSession, _: String) => s.sql(sql)) }

  private val aqeOff: Int => Seq[(String, String)] =
    _ => Seq("spark.sql.adaptive.enabled" -> "false")

  private def warm(spark: SparkSession, dir: String): Unit = Tables.cacheMode = true

  /** Warm cached views of `tables` (`rename` maps a table to its view). */
  private def cachedViews(tables: Seq[String], rename: String => String = identity)(
      spark: SparkSession, dir: String): Unit = {
    Tables.cacheMode = true
    tables.foreach(t => Tables(spark, dir, t).createOrReplaceTempView(rename(t)))
  }

  val all: Seq[Suite] = Seq(
    Suite("entry", 0, aqeOff, None, warm,
      SparkEntry.queries.toSeq.sortBy(_._1)),
    Suite("headline", 0,
      _ => Seq("spark.sql.shuffle.partitions" -> "2", "spark.sql.adaptive.enabled" -> "false"),
      None, warm, Bench.headline),
    Suite("olap", 0, aqeOff, None, warm,
      (queries.OlapShapes.queries ++ queries.MicroShapes.queries).toSeq.sortBy(_._1)),
    Suite("h2o", 100, aqeOff, Some(H2oFixture.ensureScaled),
      cachedViews(H2oFixture.tables, t => if (t == "x") "h2o_x" else t),
      texts(queries.H2oBoard.texts), engineSink = true,
      duck = Some("h2o_duck_texts.json" -> queries.H2oBoard.duckTexts)),
    Suite("clickbench", 20, aqeOff, Some(HitsFixture.ensureScaled),
      (spark, dir) => { cachedViews(Seq("hits"))(spark, dir); spark.table("hits").count(): Unit },
      texts(queries.ClickBench.texts),
      duck = Some("cb_duck_texts.json" -> queries.ClickBench.texts.map { case (n, _) =>
        n -> queries.ClickBench.oracleTextFor(n) })),
    Suite("tpch", 100, aqeOff, Some(TpchFixture.ensureScaled), cachedViews(TpchFixture.tables),
      texts(queries.TpchVerbatim.texts.toSeq.sortBy(_._1))),
    Suite("tpcds", 10, aqeOff, Some(TpcdsFixture.ensureScaled),
      (spark, dir) => TpcdsFixture.tables.foreach { t =>
        spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      },
      texts(queries.TpcdsVerbatim.texts.toSeq.sortBy(_._1)),
      // the heaviest multi-CTE towers
      board = Seq("dsq23", "dsq14", "dsq64", "dsq67", "dsq04", "dsq11", "dsq74",
        "dsq95", "dsq78", "dsq75", "dsq31", "dsq59"),
      ctes = queries.TpcdsVerbatim.texts),
    // JOB is the join-order benchmark: Spark plans it from column
    // statistics (ANALYZE + CBO join reorder) and replans at run time, as
    // DuckDB plans from the statistics it keeps; the cache is left out
    // because InMemoryRelation carries no column statistics
    Suite("job", 20,
      cores => Seq(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> cores.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> (10L << 20).toString,
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.warehouse.dir" -> s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"),
      Some(ImdbFixture.ensureScaled),
      (spark, dir) => ImdbFixture.tables.foreach { t =>
        spark.sql(s"CREATE TABLE IF NOT EXISTS $t USING parquet LOCATION '$dir/$t.parquet'")
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      },
      texts(queries.JobSlice.texts),
      duck = Some("job_duck_texts.json" -> queries.JobSlice.texts)))

  def apply(name: String): Suite = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown suite $name (one of ${all.map(_.name).mkString("|")})"))

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The settings a session for `suite` gets after `GraftSession.tune`,
    * in order (the last write of a key wins): the core-sized defaults,
    * the suite's own, then every `spark.*` entry of `props`. */
  def settings(suite: Suite, cores: Int, props: Map[String, String]): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cores]", "spark.ui.enabled" -> "false",
      "spark.locality.wait" -> "0", "spark.sql.shuffle.partitions" -> cores.toString) ++
      suite.settings(cores) ++ props.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1)

  def session(suite: Suite): SparkSession = {
    val b = settings(suite, cores, sys.props.toMap)
      .foldLeft(GraftSession.tune(SparkSession.builder())) { case (b, (k, v)) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A main's trailing arguments: `factor=N`, `dir=PATH` and query names. */
  final case class Args(factor: Option[Long], dir: Option[String], names: Seq[String])

  def parseArgs(args: Seq[String]): Args = {
    args.filter(_.contains('=')).foreach(a => require(
      a.startsWith("factor=") || a.startsWith("dir="), s"unknown option $a (factor=N, dir=PATH)"))
    def opt(k: String) = args.collectFirst { case a if a.startsWith(s"$k=") => a.drop(k.length + 1) }
    Args(opt("factor").map(_.toLong), opt("dir"), args.filterNot(_.contains('=')))
  }

  /** Registers `suite`'s tables from `args.dir`, else from its fixture at
    * `args.factor` (default: the suite's), else from SPARK_GRAFT_SF_DIR;
    * returns the dir. */
  def load(spark: SparkSession, suite: Suite, args: Args): String = {
    val dir = args.dir.getOrElse(suite.fixture match {
      case Some(gen) => gen(spark, args.factor.getOrElse(suite.factor))
      case None => sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        sys.error(s"suite ${suite.name} reads its tables from SPARK_GRAFT_SF_DIR or dir=PATH"))
    })
    suite.register(spark, dir)
    dir
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  /** Median wall of `n` one-task-per-core jobs: the host's dispatch
    * floor, a fingerprint that tells a slow host phase from a slow change. */
  def probeMs(spark: SparkSession, n: Int = 40): Double = {
    val cores = spark.sparkContext.defaultParallelism
    val probe = spark.sparkContext.parallelize(1 to cores, cores)
    median((1 to n).map { _ =>
      val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e6
    })
  }
}
