package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev diagnostic: write `.explain("formatted")` of named queries to files
  * (the optimization-round evidence format — plans/rNN/<query>_<tag>.txt).
  * Not part of the driver protocol.
  *
  * Usage: runMain graft.PlanExplain <outDir> <tag> <query...>
  * Env: SPARK_GRAFT_SF_DIR (data dir), GRAFT_CACHE=1 (plan against the warm
  * clustered cache — bench state), plus `-Dspark.graft.disabled=<rule,...>`
  * (see GraftConf) to produce "before" plans with an optimization disabled.
  *
  * Writes the pre-execution plan AND, after one collect(), the final
  * adaptive plan (AQE may rewrite stages; the judge should see both).
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[8]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.get("GRAFT_CACHE").contains("1")) Tables.cacheMode = true
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val pre = df.queryExecution.explainString(FormattedMode)
      df.collect()
      val post = df.queryExecution.explainString(FormattedMode)
      val body = s"==== $name [$tag] pre-execution plan\n$pre\n" +
        s"==== $name [$tag] final adaptive plan (after one execution)\n$post\n"
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), body)
      println(s"[plan] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
