package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hierarchical temporal profile: hourly per-host aggregates rolled into a
  * 24-slot daily profile.
  *
  * Reference: applications/statistics/hosts_profiling/spark/
  * host_daily_profile.py — hourly window (:198-219) re-windowed into a
  * 24-slot circular array keyed by a driver-global INCREMENT counter
  * (:73-93, 222-255 — ST3). Event-time reformulation: the slot index is
  * just hour(start) — the wall-clock counter hack disappears (SURVEY.md
  * §2.6 ST3), and late data lands in the right slot by construction.
  *
  * Two-level aggregation = two shuffles (host×hour, then host×day); the
  * second input is already tiny. Emitted flat (one row per filled slot) —
  * the array form is a collect_list away if the sink wants it. The hourly
  * level is [[HostStats.profiled]] flows keyed by [[HostStats.srcIp]] with
  * [[hourlyAggs]], shared with the streaming form
  * [[graft.streaming.StreamingAnalytics.dailyProfile]].
  */
object HostDailyProfile {

  /** The hourly level's aggregates (batch and streaming). */
  def hourlyAggs: Seq[Column] = Seq(
    sum("packets").as("packets"),
    sum("bytes").as("bytes"),
    count(lit(1)).as("flows"))

  def apply(flows: DataFrame): DataFrame = {
    val hourMs = 3600000L
    val dayMs  = 86400000L
    val hourly = HostStats.profiled(flows)
      .groupBy(HostStats.srcIp,
        (col("start_ms") - (col("start_ms") % hourMs)).as("hour_start_ms"))
      .agg(hourlyAggs.head, hourlyAggs.tail: _*)
    hourly
      .groupBy(
        col("src_ip"),
        (col("hour_start_ms") - (col("hour_start_ms") % dayMs)).as("day_start_ms"),
        ((col("hour_start_ms") % dayMs) / hourMs).cast("int").as("hour_slot"))
      .agg(
        sum("packets").as("packets"),
        sum("bytes").as("bytes"),
        sum("flows").as("flows"))
  }
}
