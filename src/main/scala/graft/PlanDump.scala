package graft

import org.apache.spark.sql.execution.FormattedMode

/** Prints, in formatted mode, the pre-execution plan and the final
  * adaptive plan (after one run through the suite's sink) of named
  * queries of a suite (`Suites`), in the suite's session and fixture
  * state. A plan with graft rules or arms left out:
  *   sbt -Dspark.graft.disabled=VectorizedCacheRead "runMain graft.PlanDump entry q1_pricing_summary"
  *
  * Usage: sbt "runMain graft.PlanDump <suite> [factor=N] [dir=PATH] [query ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: PlanDump <${Suites.all.map(_.name).mkString("|")}> [factor=N] [dir=PATH] [query ...]")
    val suite = Suites(args(0))
    val opts = Suites.parseArgs(args.drop(1).toSeq)
    val names = suite.pick(opts.names)
    val spark = Suites.session(suite)
    val dir = Suites.load(spark, suite, opts)
    names.foreach { name =>
      suite.run(spark, dir, name) { df =>
        println(s"==== $name pre-execution plan\n${df.queryExecution.explainString(FormattedMode)}")
        suite.sink(df)
        println(s"==== $name final adaptive plan\n${df.queryExecution.explainString(FormattedMode)}")
      }
    }
    spark.stop()
  }
}
