package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev diagnostic: write `.explain("formatted")` of h2o / ClickBench board
  * texts under the EXACT bench state (factor-scaled fixture, Tables()-warm
  * columnar cache with statistics metadata, AQE off) — the optimization
  * evidence format (plans/rNN/<query>_<tag>.txt). Not part of the driver
  * protocol.
  *
  * Usage: runMain graft.BoardPlanExplain <outDir> <tag> <query...>
  * Query names decide the board (h2o_* → H2oFixture, cb_* → HitsFixture).
  * Env: SPARK_GRAFT_H2O_FACTOR / SPARK_GRAFT_HITS_FACTOR (default 10/20),
  * plus `-Dspark.graft.disabled=<rule,...>` (see GraftConf) for "before"
  * plans.
  */
object BoardPlanExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    // job_* shapes replicate BenchJob's environment (CBO join reorder,
    // AQE, 10 MB broadcast threshold, ANALYZE'd catalog tables)
    val isJob = names.exists(_.startsWith("job_"))
    val b0 = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", isJob.toString)
    val spark = (if (isJob) b0
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.warehouse.dir",
          s"${System.getProperty("java.io.tmpdir")}/graft_bpe_wh_${
            java.util.UUID.randomUUID().toString.take(8)}")
      else b0).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()

    if (names.exists(_.startsWith("h2o_"))) {
      val factor = sys.env.getOrElse("SPARK_GRAFT_H2O_FACTOR", "10").toLong
      val dir = sys.env.getOrElse("GRAFT_H2O_DIR",
        graft.sources.H2oFixture.ensureScaled(spark, factor))
      graft.sources.H2oFixture.tables.foreach { t =>
        val view = if (t == "x") "h2o_x" else t
        Tables.cacheMode = true
        Tables(spark, dir, t).createOrReplaceTempView(view)
      }
    }
    if (names.exists(_.startsWith("cb_"))) {
      val factor = sys.env.getOrElse("SPARK_GRAFT_HITS_FACTOR", "20").toLong
      val dir = graft.sources.HitsFixture.ensureScaled(spark, factor)
      Tables.cacheMode = true
      Tables(spark, dir, "hits").createOrReplaceTempView("hits")
      spark.table("hits").count()
    }

    if (isJob) {
      val factor = sys.env.getOrElse("SPARK_GRAFT_IMDB_FACTOR", "100").toLong
      val dir = sys.env.getOrElse("GRAFT_IMDB_DIR",
        graft.sources.ImdbFixture.ensureScaled(spark, factor))
      graft.sources.ImdbFixture.tables.foreach { t =>
        spark.sql(s"CREATE TABLE IF NOT EXISTS $t USING parquet LOCATION '$dir/$t.parquet'")
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    }

    val texts = (queries.H2oBoard.texts ++ queries.ClickBench.texts ++
      queries.JobSlice.texts).toMap
    names.foreach { name =>
      val df = spark.sql(texts(name))
      val pre = df.queryExecution.explainString(FormattedMode)
      df.queryExecution.toRdd.count()
      val post = df.queryExecution.explainString(FormattedMode)
      val body = s"==== $name [$tag] pre-execution plan (bench warm state)\n$pre\n" +
        s"==== $name [$tag] final adaptive plan (after one execution)\n$post\n"
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), body)
      println(s"[plan] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
