package graft

import graft.Suites.median
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
  *   sbt "runMain graft.BenchAB <suite> <armA> <armB> [factor=N] [dir=PATH] [query ...]"
  * An arm is `-` (the session's settings) or `key=value&key=value`, e.g.
  *   sbt "runMain graft.BenchAB h2o - spark.graft.disabled=PackedShuffleAgg h2o_g02 h2o_g09"
  * The suite (`Suites`) sets the session, fixture and query set; both arms
  * time `collect()`.
  */
object BenchAB {
  val Warmups = 2
  val Runs = 7

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
    require(args.length >= 3,
      s"usage: BenchAB <${Suites.all.map(_.name).mkString("|")}> <armA> <armB> [factor=N] [dir=PATH] [query ...]")
    val suite = Suites(args(0))
    val (armA, armB) = (parseArm(args(1)), parseArm(args(2)))
    val opts = Suites.parseArgs(args.drop(3).toSeq)
    val spark = Suites.session(suite)
    val dir = Suites.load(spark, suite, opts)
    val picked = suite.pick(opts.names)
    // the arms' keys must be valid settings before any timing starts
    withArm(spark, armA)(()); withArm(spark, armB)(())
    println(s"suite=${suite.name} cores=${spark.sparkContext.defaultParallelism} a=${args(1)} b=${args(2)}")

    def timed(q: String, arm: Seq[(String, String)]): Double =
      withArm(spark, arm) {
        val t0 = System.nanoTime()
        suite.run(spark, dir, q)(_.collect())
        (System.nanoTime() - t0) / 1e6
      }
    var mismatches = 0
    picked.foreach { name =>
      val rowsA = withArm(spark, armA)(suite.run(spark, dir, name)(sortedRows))
      val rowsB = withArm(spark, armB)(suite.run(spark, dir, name)(sortedRows))
      if (rowsA != rowsB) {
        mismatches += 1
        println(s"[ab] $name MISMATCH rows a=${rowsA.length} b=${rowsB.length}")
      } else {
        (1 to Warmups).foreach { _ => timed(name, armA); timed(name, armB) }
        val (a, b) = (1 to Runs).map(_ => (timed(name, armA), timed(name, armB))).unzip
        println(f"[ab] $name%-24s a=${median(a)}%8.1f ms  b=${median(b)}%8.1f ms  " +
          f"b/a=${median(b) / median(a)}%.3f  rows=${rowsA.length}  " +
          f"a_runs=${a.map(t => f"$t%.0f").mkString(",")}  " +
          f"b_runs=${b.map(t => f"$t%.0f").mkString(",")}")
      }
    }
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
