package perfbench

import graft.{Bench, GraftSession, Tables}
import graft.queries.{H2oBoard, Headline, JobSlice}
import graft.sources.{H2oFixture, ImdbFixture}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed query: submitted as SQL text or built by a DataFrame builder. */
final case class Query(name: String, build: SparkSession => DataFrame)

/** A DuckDB oracle text; `approxCols` are compared within a relative
  * tolerance because both engines answer them with their own sketch. */
final case class OracleQuery(name: String, sql: String, approxCols: Seq[Int] = Nil)

/** A workload: session settings, set-up steps and the query list.
  *
  * Settings follow the engine's own harness for the same query set
  * (`Bench`, `BenchH2o`, `BenchJob`), except that cores and shuffle
  * width come from the host's core count. */
abstract class Workload {
  def name: String
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder
  /** Directory of the tables this workload reads. */
  def dataDir: String
  /** Generates the fixture tables unless `dataDir` already holds them. */
  def generate(spark: SparkSession): Unit = ()
  /** Cache build, or catalog registration + ANALYZE. */
  def load(spark: SparkSession): Unit
  /** True when `load` is an ANALYZE pass rather than a cache build. */
  def loadIsAnalyze: Boolean = false
  def queries: Seq[Query]
  /** DuckDB view name -> parquet path (a file or a glob). */
  def views: Seq[(String, String)]
  def oracle: Seq[OracleQuery]
}

object Workloads {
  /** `data` is a directory of previously generated tables, or empty. */
  def apply(name: String, data: String, factor: Long): Workload = name match {
    case "headline" => new HeadlineWorkload(data)
    case "h2o_groupby" => new H2oWorkload(factor, data)
    case "job_joins" => new JobWorkload(factor, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(w: Workload, cores: Int, scratch: String): SparkSession = {
    val b = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false"))
    // after tune(): keep shuffle and spill files inside the run directory
    w.configure(b, cores)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.locality.wait", "0")
      .getOrCreate()
  }
}

/** The 8 BASELINE.md queries (`Bench.headline`) over sf0.1-shaped tables,
  * warm columnar cache. */
final class HeadlineWorkload(dir: String) extends Workload {
  val name = "headline"
  def dataDir: String = dir
  private val used = Seq("lineitem", "orders", "customer", "supplier", "nation", "region", "events")

  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.ui.explainMode", "simple")

  def load(spark: SparkSession): Unit = {
    Tables.cacheMode = true
    Tables.clearCache()
    used.foreach(t => Tables(spark, dir, t))
  }

  def queries: Seq[Query] = Bench.headline.map { case (n, fn) => Query(n, s => fn(s, dir)) }

  def views: Seq[(String, String)] = used.map(t => t -> s"$dir/$t.parquet")

  def oracle: Seq[OracleQuery] = Bench.headline.map(_._1).map {
    case n @ "distinct_exact_vs_approx" => OracleQuery(n,
      "SELECT count(DISTINCT l_partkey) AS n_parts, " +
        "approx_count_distinct(l_suppkey) AS approx_supps FROM lineitem", Seq(1))
    case n => OracleQuery(n, Headline.oracle(n))
  }
}

/** h2o db-benchmark groupby g01-g10 (`H2oBoard`) over `H2oFixture`'s
  * `x_group`, warm columnar cache. */
final class H2oWorkload(factor: Long, private var dir: String) extends Workload {
  val name = "h2o_groupby"
  def dataDir: String = dir
  private val names = (1 to 10).map(i => f"h2o_g$i%02d").toSet

  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cores.toString)
    .config("spark.sql.adaptive.enabled", "false")

  override def generate(spark: SparkSession): Unit =
    if (dir.isEmpty) dir = H2oFixture.ensureScaled(spark, factor)

  def load(spark: SparkSession): Unit = {
    Tables.cacheMode = true
    Tables.clearCache()
    Tables(spark, dir, "x_group").createOrReplaceTempView("x_group")
  }

  def queries: Seq[Query] = H2oBoard.texts.filter(t => names(t._1))
    .map { case (n, sql) => Query(n, _.sql(sql)) }

  def views: Seq[(String, String)] = Seq("x_group" -> s"$dir/x_group.parquet/*.parquet")

  def oracle: Seq[OracleQuery] = H2oBoard.duckTexts.filter(t => names(t._1))
    .map { case (n, sql) => OracleQuery(n, sql) }
}

/** JOB family "a" (`JobSlice.texts`, job_01a..job_33a) over `ImdbFixture`
  * as ANALYZE'd parquet tables with CBO join reorder and AQE on. */
final class JobWorkload(factor: Long, private var dir: String) extends Workload {
  val name = "job_joins"
  def dataDir: String = dir
  override val loadIsAnalyze = true

  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.cbo.joinReorder.enabled", "true")

  override def generate(spark: SparkSession): Unit =
    if (dir.isEmpty) dir = ImdbFixture.ensureScaled(spark, factor)

  def load(spark: SparkSession): Unit = {
    Tables.cacheMode = false
    ImdbFixture.tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t USING parquet LOCATION '$dir/$t.parquet'")
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  private def familyA: Seq[(String, String)] = JobSlice.texts.filter(_._1.matches("job_\\d\\da"))
    .sortBy(_._1)

  def queries: Seq[Query] = familyA.map { case (n, sql) => Query(n, _.sql(sql)) }

  def views: Seq[(String, String)] = ImdbFixture.tables.map(t => t -> s"$dir/$t.parquet/*.parquet")

  def oracle: Seq[OracleQuery] = familyA.map { case (n, sql) => OracleQuery(n, sql) }
}
