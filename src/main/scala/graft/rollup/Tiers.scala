package graft.rollup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Retention-tier time bucketing (north rule: 1m / 1h / 1d / 30d).
  *
  * 1m/1h/1d are calendar truncations (`date_trunc` — codegen'd, no
  * UDF). The 30d tier is a fixed-width 30-day window anchored at the
  * Unix epoch (pure integer arithmetic on the epoch second), because a
  * "30 days" tier is not a calendar unit; this keeps the bucket
  * function a pure, order-free expression that any engine (and the
  * DuckDB oracle) reproduces exactly.
  */
object Tiers {

  val All: Seq[String] = Seq("1m", "1h", "1d", "30d")

  private val ThirtyDaysSec = 30L * 24 * 3600

  def bucket(ts: Column, tier: String): Column = tier match {
    case "1m"  => date_trunc("minute", ts)
    case "1h"  => date_trunc("hour", ts)
    case "1d"  => date_trunc("day", ts)
    // calendar month: a PRESENTATION tier re-rolled from 1d (reports,
    // billing). Not part of `All` — the north-rule retention cascade
    // stays fixed-width — and deliberately absent from widthSeconds
    // (months have none).
    case "month" => date_trunc("month", ts)
    // unix_seconds floors sub-second instants before 1970, where
    // unix_timestamp truncates them into the next window
    case "30d" =>
      timestamp_seconds(
        floor(unix_seconds(ts.cast("timestamp")) / ThirtyDaysSec).cast("long") * ThirtyDaysSec
      )
    case other => throw new IllegalArgumentException(s"unknown tier $other")
  }

  /** Start day of the 30d window that holds `day`: the driver-side twin
    * of `to_date(bucket(ts, "30d"))` for any `ts` on that day, in a UTC
    * session. Windows start at epoch multiples of 30 whole days, so a
    * UTC day never straddles two; `floorDiv` keeps days before 1970 in
    * the window below them.
    */
  def window30dOf(day: java.time.LocalDate): java.time.LocalDate =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(day.toEpochDay, 30L) * 30L)

  /** The coarser tier one step up (for hierarchical re-aggregation). */
  def parent(tier: String): Option[String] = tier match {
    case "1m" => Some("1h")
    case "1h" => Some("1d")
    case "1d" => Some("30d")
    case _    => None
  }

  /** Tiers usable as a re-rollup TARGET (bucket() works), a superset of
    * the retention cascade `All`.
    */
  val RollTargets: Seq[String] = All :+ "month"

  /** Fixed bucket width in seconds (exact under the engine's pinned
    * UTC session timezone — no DST, so calendar buckets have fixed
    * width too).
    */
  def widthSeconds(tier: String): Long = tier match {
    case "1m"  => 60L
    case "1h"  => 3600L
    case "1d"  => 86400L
    case "30d" => ThirtyDaysSec
    case other => throw new IllegalArgumentException(s"unknown tier $other")
  }

  /** Spine step for gap-fill at a tier. */
  def interval(tier: String): String = tier match {
    case "1m"  => "interval 1 minute"
    case "1h"  => "interval 1 hour"
    case "1d"  => "interval 1 day"
    case "30d" => "interval 30 day"
    case other => throw new IllegalArgumentException(s"unknown tier $other")
  }
}
