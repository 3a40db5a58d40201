package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NetFunctions

/** Per-window protocol traffic statistics.
  *
  * Reference: applications/statistics/protocols_statistics/spark/
  * protocols_statistics.py:99-132 — filter on key presence, map protocol →
  * name, windowed count/sum(packets)/sum(bytes). The reference's manual
  * pre-window reduceByKey (":116-121, reduce volume") is unnecessary here:
  * Catalyst plans partial+final hash aggregation automatically (one shuffle
  * keyed by (window, protocol) — scale-safe: key cardinality is tiny, so
  * map-side combine collapses the traffic).
  *
  * Batch form: callers bucket time via floor(start_ms / windowMs); the
  * streaming form uses window() on event-time (graft.streaming) over the
  * same [[counted]] flows, [[protocol]] key and [[aggs]].
  */
object ProtocolStatistics {

  /** Flow columns this analytic consumes — callers over a synthesized
    * flow view pass this to prune the synth tree (driver-latency win;
    * execution is pruned by Catalyst either way). A stale list fails
    * loudly at analysis, and the oracle gate runs every query. */
  val inputCols: Seq[String] = Seq("protocol", "packets", "bytes", "start_ms")

  /** Flows a protocol statistic counts (batch and streaming). */
  def counted: Column =
    col("protocol").isNotNull && col("packets").isNotNull && col("bytes").isNotNull

  /** The grouping key: the protocol's name. */
  def protocol: Column = NetFunctions.protocolName(col("protocol")).as("protocol")

  /** The per-(window, protocol) aggregates (batch and streaming). */
  def aggs: Seq[Column] = Seq(
    count(lit(1)).as("flows"),
    sum("packets").as("packets"),
    sum("bytes").as("bytes"))

  def apply(flows: DataFrame, windowMs: Long): DataFrame =
    flows
      .filter(counted && col("start_ms").isNotNull)
      .groupBy(
        (col("start_ms") - (col("start_ms") % windowMs)).as("window_start_ms"),
        protocol)
      .agg(aggs.head, aggs.tail: _*)
}
