package graft

import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential check of the UTC date_trunc fold (rules/FastUtcDateTrunc):
  * the rewritten sub-day units must agree with java.time truncation for
  * every probe — including pre-epoch timestamps, where a naive `%` would
  * truncate toward zero instead of flooring — and the plan must show the
  * arithmetic form (no TruncTimestamp) for rewritten units while
  * calendar units keep the built-in path.
  */
class FastUtcDateTruncSpec extends AnyFunSuite {
  import SparkTestSession._

  private val probes = Seq(
    "1996-03-15 13:47:23.123456",
    "1970-01-01 00:00:00.000001",
    "1969-12-31 23:59:59.999999", // pre-epoch: floor, not trunc-toward-zero
    "1950-06-05 07:08:09.5",
    "2001-12-31 23:00:00.0")

  private def expected(s: String, unit: ChronoUnit): Instant =
    ZonedDateTime.of(java.time.LocalDateTime.parse(s.replace(' ', 'T')), ZoneOffset.UTC)
      .toInstant.truncatedTo(unit)

  test("sub-day date_trunc matches java.time truncation (incl. pre-epoch)") {
    import spark.implicits._
    val df = probes.toDF("s").select(col("s"), col("s").cast("timestamp").as("ts"))
    for ((unit, chrono) <- Seq(
        "second" -> ChronoUnit.SECONDS, "minute" -> ChronoUnit.MINUTES,
        "hour" -> ChronoUnit.HOURS, "day" -> ChronoUnit.DAYS)) {
      val got = df.select(col("s"), date_trunc(unit, col("ts")).as("t"))
        .collect().map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap
      for (p <- probes)
        assert(got(p) == expected(p, chrono), s"unit=$unit probe=$p")
    }
  }

  test("rewritten units plan arithmetic; calendar units plan the civil kernel") {
    val ev = Tables(spark, sf, "events")
    val hourPlan = ev.select(date_trunc("hour", col("ts")).as("b"))
      .queryExecution.optimizedPlan.toString
    assert(hourPlan.contains("unix_micros") && hourPlan.contains("pmod"), hourPlan)
    val monthPlan = ev.select(date_trunc("month", col("ts")).as("b"))
      .queryExecution.optimizedPlan
    assert(monthPlan.expressions.exists(_.find {
      case _: graft.functions.UtcCalendarTrunc => true; case _ => false
    }.isDefined), monthPlan.toString)
  }

  test("calendar units match Spark's built-in truncation on randomized probes") {
    // differential vs TruncTimestamp itself (rule off), sweeping ±80
    // years around the epoch so leap years, century boundaries and
    // pre-epoch flooring are all exercised
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val micros = Seq.fill(3000)(
      (rnd.nextLong() % (80L * 365 * 86400000000L))) ++ Seq(
      0L, -1L, 86399999999L, -86400000000L)
    val df = micros.toDF("us").selectExpr("timestamp_micros(us) AS ts")
    for (unit <- Seq("week", "month", "mon", "quarter", "year")) {
      val fast = df.select(date_trunc(unit, col("ts")).as("t")).collect().map(_.get(0))
      val slowDf = df.selectExpr(
        // force the built-in path: non-foldable unit defeats the rewrite
        s"date_trunc(CASE WHEN ts IS NOT NULL THEN '$unit' ELSE '$unit' END, ts) AS t")
      val slow = slowDf.collect().map(_.get(0))
      assert(fast.toSeq == slow.toSeq, s"unit=$unit first diff: ${
        fast.zip(slow).zipWithIndex.find { case ((a, b), _) => a != b }}")
    }
  }

  test("UTC cast fast paths (ntz→timestamp, timestamp→date) match the built-in casts") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val micros = Seq.fill(3000)(
      rnd.nextLong() % (80L * 365 * 86400000000L)) ++ Seq(
      0L, -1L, 86399999999L, -86400000000L, -86400000001L)
    val df = micros.toDF("us").selectExpr(
      "timestamp_micros(us) AS ts",
      "CAST(timestamp_micros(us) AS TIMESTAMP_NTZ) AS ntz")
    def run(): Seq[(Any, Any)] = df.selectExpr(
      "CAST(ntz AS TIMESTAMP) AS a", "CAST(ts AS DATE) AS b")
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val fast = run()
    val slow = withGraft("FastUtcDateTrunc" -> false)(run())
    assert(fast == slow, s"first diff: ${
      fast.zip(slow).find { case (a, b) => a != b }}")
    // plan pins — the synthetic ntz above round-trips through a cast
    // that Catalyst collapses, so pin the reinterpret on a REAL NTZ
    // column (orders.o_orderdate in the fixtures)
    val ntzPlan = Tables(spark, sf, "orders")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS a")
      .queryExecution.optimizedPlan
    assert(ntzPlan.expressions.exists(_.find {
      case _: graft.functions.UtcNtzReinterpret => true; case _ => false }.isDefined),
      ntzPlan.toString)
    val datePlan = Tables(spark, sf, "orders")
      .selectExpr("CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS b")
      .queryExecution.optimizedPlan
    assert(datePlan.expressions.exists(_.find {
      case _: graft.functions.UtcMicrosToDate => true; case _ => false }.isDefined),
      datePlan.toString)
    // differential on the real NTZ column too
    def runNtz(): Seq[Any] = Tables(spark, sf, "orders")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS a").limit(2000)
      .collect().map(_.get(0)).toSeq
    val fastNtz = runNtz()
    val slowNtz = withGraft("FastUtcDateTrunc" -> false)(runNtz())
    assert(fastNtz == slowNtz)
  }
}
