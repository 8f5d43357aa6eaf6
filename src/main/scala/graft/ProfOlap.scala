package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev profiler for the OLAP aggregation shapes: per stage, prints task
  * count, run/cpu/GC/deserialize time and shuffle read/write volume+time,
  * to attribute wall-clock between the aggregation loop, the state
  * shuffle, and the dispatch floor (PERF.md round-6 notes). Not part
  * of the driver protocol — a diagnostic main.
  */
object ProfOlap {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.cacheMode = true
    val probe = spark.sparkContext.parallelize(1 to 32, 32)
    (1 to 120).foreach(_ => probe.count())

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val st = s.stageInfo
        val tm = st.taskMetrics
        System.err.println(f"[stage ${st.stageId}] tasks=${st.numTasks} " +
          f"run=${tm.executorRunTime}ms cpu=${tm.executorCpuTime / 1000000}ms " +
          f"gc=${tm.jvmGCTime}ms deser=${tm.executorDeserializeTime}ms " +
          f"shWriteMB=${tm.shuffleWriteMetrics.bytesWritten / 1048576} " +
          f"shWriteTime=${tm.shuffleWriteMetrics.writeTime / 1000000}ms " +
          f"shReadMB=${tm.shuffleReadMetrics.remoteBytesRead / 1048576 +
            tm.shuffleReadMetrics.localBytesRead / 1048576}")
      }
    })

    val names = if (args.nonEmpty) args.toSeq
      else Seq("h2o_range_agg", "h2o_count_distinct", "cb_filter_multi_agg",
        "cb_top_groups")
    names.foreach { name =>
      val fn = queries.OlapShapes.queries.getOrElse(name, SparkEntry.queries(name))
      (1 to 4).foreach(_ => fn(spark, sfDir).collect())
      if (sys.env.contains("GRAFT_EXPLAIN")) {
        val dfx = fn(spark, sfDir)
        dfx.collect()
        println(dfx.queryExecution.executedPlan.toString.take(5000))
      }
      val df = fn(spark, sfDir)
      val t0 = System.nanoTime()
      df.collect()
      val wall = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300)
      println(f"==== $name%-22s wall=${wall}%7.1f ms")
    }
    spark.stop()
  }
}
