package graft.rules

import graft.GraftRule

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Fold sub-day `date_trunc` in a UTC session into pure micros arithmetic.
  *
  * Spark's `TruncTimestamp` goes through `DateTimeUtils.truncTimestamp`,
  * which localizes every row through the zone rules (java.time lookups);
  * for the units whose boundaries are zone-offset-independent *in UTC*
  * (second/minute/hour/day), truncation is just flooring the epoch-micros
  * to the unit — the arithmetic a native engine compiles this to
  * (reference: date_trunc kernels in
  * /root/reference/extension/core_functions/scalar/date/date_trunc.cpp
  * specialize exactly these units to integer division). Week/month/year
  * keep the built-in path (calendar-dependent).
  *
  * Rewrite: `micros - pmod(micros, unit)` — pmod (not %) so pre-epoch
  * timestamps floor instead of truncating toward zero, matching
  * `date_trunc` semantics for negative micros.
  *
  * Calendar units (week/month/quarter/year) are ALSO zone-independent
  * in UTC — the boundary is a fixed function of the epoch-day number —
  * so they rewrite to the codegen'd civil-date kernel
  * ([[graft.functions.DateTruncKernel]]) instead of the per-row
  * java.time localization (~320 → ~10 ns/row).
  */
object FastUtcDateTrunc extends GraftRule[LogicalPlan] {
  private val unitMicros: Map[String, Long] = Map(
    "second" -> 1000000L,
    "minute" -> 60000000L,
    "hour" -> 3600000000L,
    "day" -> 86400000000L,
    "dd" -> 86400000000L)

  private val calendarKernel: Map[String, String] = Map(
    "week" -> "truncWeek",
    "month" -> "truncMonth", "mon" -> "truncMonth", "mm" -> "truncMonth",
    "quarter" -> "truncQuarter",
    "year" -> "truncYear", "yyyy" -> "truncYear", "yy" -> "truncYear")

  private val utcNames = Set("UTC", "Etc/UTC", "Z", "GMT", "+00:00")

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    if (!utcNames.contains(conf.sessionLocalTimeZone)) plan
    else plan.transformAllExpressions {
      case TruncTimestamp(Literal(fmt: UTF8String, StringType), ts, tz)
          if ts.dataType == TimestampType &&
            unitMicros.contains(fmt.toString.toLowerCase(java.util.Locale.ROOT)) &&
            tz.forall(utcNames.contains) =>
        val u = Literal(unitMicros(fmt.toString.toLowerCase(java.util.Locale.ROOT)))
        val micros = UnixMicros(ts)
        MicrosToTimestamp(Subtract(micros, Pmod(micros, u)))
      case TruncTimestamp(Literal(fmt: UTF8String, StringType), ts, tz)
          if ts.dataType == TimestampType &&
            calendarKernel.contains(fmt.toString.toLowerCase(java.util.Locale.ROOT)) &&
            tz.forall(utcNames.contains) =>
        graft.functions.UtcCalendarTrunc(ts,
          calendarKernel(fmt.toString.toLowerCase(java.util.Locale.ROOT)))
      // in UTC the NTZ micros ARE the instant micros — skip the per-row
      // LocalDateTime round-trip the cast otherwise performs. The cast's
      // own resolved timeZoneId must ALSO be UTC (mirroring the
      // TruncTimestamp guards): a plan resolved under another zone (cached
      // view, session TZ changed mid-session) keeps its original semantics.
      case Cast(e, TimestampType, tz, _)
          if e.dataType == org.apache.spark.sql.types.TimestampNTZType &&
            tz.forall(utcNames.contains) =>
        graft.functions.UtcNtzReinterpret(e)
      // instant → civil date in UTC is a floor-div, no zone rules
      case Cast(e, org.apache.spark.sql.types.DateType, tz, _)
          if e.dataType == TimestampType && tz.forall(utcNames.contains) =>
        graft.functions.UtcMicrosToDate(e)
    }
  }
}
