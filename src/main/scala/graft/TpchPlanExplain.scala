package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev diagnostic: write `.explain("formatted")` of TPC-H verbatim texts
  * under the EXACT BenchTpchScale state (factor-scaled fixture, warm
  * clustered cache with NDV statistics, AQE off, 32 shuffle partitions) —
  * optimization evidence for plans/rNN/. Not part of the driver protocol.
  *
  * Usage: runMain graft.TpchPlanExplain <outDir> <tag> <thqNN...>
  * Env: SPARK_GRAFT_TPCH_FACTOR (default 100); `-Dspark.graft.disabled=`
  * (see GraftConf) for "before" plans.
  */
object TpchPlanExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val factor = sys.env.getOrElse("SPARK_GRAFT_TPCH_FACTOR", "100").toLong
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = graft.sources.TpchFixture.ensureScaled(spark, factor)
    Tables.cacheMode = true
    graft.sources.TpchFixture.tables.foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = spark.sql(queries.TpchVerbatim.texts(name))
      val pre = df.queryExecution.explainString(FormattedMode)
      df.collect()
      val post = df.queryExecution.explainString(FormattedMode)
      val body = s"==== $name [$tag] pre-execution plan (bench warm state, x$factor)\n$pre\n" +
        s"==== $name [$tag] final plan (after one execution)\n$post\n"
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), body)
      println(s"[plan] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
