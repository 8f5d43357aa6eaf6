package graft

/** Dev check: every ClickBench text evaluated on the WARM clustered
  * hits cache (the bench arm — UserID-clustered, sorted-run string
  * keys, packed/collapse rules) must value-equal the COLD plain-parquet
  * evaluation in the same JVM. Catches warm-layer bugs the oracle gates
  * can't see (the driver's Verify runs cold).
  *
  * Usage: sbt "runMain graft.WarmCbCheck [factor=N] [dir=PATH] [cb_qNN ...]"
  */
object WarmCbCheck {
  def main(args: Array[String]): Unit = {
    val suite = Suites("clickbench")
    val opts = Suites.parseArgs(args.toSeq)
    val spark = Suites.session(suite)
    val dir = Suites.load(spark, suite, opts)
    val warm = Tables(spark, dir, "hits")
    val cold = spark.read.parquet(s"$dir/hits.parquet")
    val names = suite.pick(opts.names)
    var bad = 0
    names.foreach { name =>
      def rows(hits: org.apache.spark.sql.DataFrame): Seq[String] = {
        hits.createOrReplaceTempView("hits")
        suite.run(spark, dir, name)(_.collect().map(_.toString).sorted.toSeq)
      }
      val (w, c) = (rows(warm), rows(cold))
      if (w == c) println(s"[warmcb] OK   $name (${w.size} rows)")
      else {
        bad += 1
        println(s"[warmcb] DIFF $name warm=${w.size} cold=${c.size} " +
          s"first=${w.zip(c).find { case (a, b) => a != b }}")
      }
    }
    println(s"[warmcb] == ${names.size - bad} identical, $bad differ")
    spark.stop()
  }
}
