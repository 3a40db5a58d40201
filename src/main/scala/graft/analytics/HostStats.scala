package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BitFunctions, NetFunctions}

/** Per-host traffic profile: totals, avg flow duration, distinct dst ports,
  * distinct peers, TCP-flag sums.
  *
  * Reference: applications/statistics/hosts_statistics/spark/host_stats.py —
  * five separately keyed reduceByKey streams joined by 4 chained full-outer
  * joins (:254-264). Restructured Spark-first into ONE groupBy(src_ip) with
  * multiple aggregates: a single shuffle instead of 5 shuffles + 4 joins
  * (SURVEY.md §2.3 J2). Distinct counts are exact here (the oracle needs
  * determinism); the streaming form
  * [[graft.streaming.StreamingAnalytics.hostStats]] groups the same
  * [[profiled]] flows by window and source with the same [[aggs]], counting
  * distincts with HLL sketches (no extra shuffle for distinct expansion).
  *
  * TCP-flag vector (host_stats.py:54-71, 228-245): 8 bit-extract columns
  * summed — stays in whole-stage codegen, vs the reference's per-record
  * Python '{0:08b}'.format + zip-sum.
  */
object HostStats {

  /** Flow columns this analytic consumes (see ProtocolStatistics.inputCols). */
  val inputCols: Seq[String] = Seq("src_ip4", "src_ip6", "dst_ip", "dst_port",
    "protocol", "packets", "bytes", "tcp_flags", "start_ms", "end_ms")

  /** Flows a host profile counts: a source address and both volume
    * counters. Shared by every host-keyed profile, batch and streaming
    * ([[HostDailyProfile]] too). */
  def profiled(flows: DataFrame): DataFrame = flows.filter(
    coalesce(col("src_ip4"), col("src_ip6")).isNotNull &&
      col("packets").isNotNull && col("bytes").isNotNull)

  /** The profile key: the v4 source, else the v6 one. */
  def srcIp: Column = NetFunctions.ipCoalesce(col("src_ip4"), col("src_ip6")).as("src_ip")

  /** The profile's aggregates, `flows` first. `distinct` counts dst ports
    * and peers: exact in batch, `approx_count_distinct` on a stream, since
    * Spark rejects distinct aggregates there. */
  def aggs(distinct: Column => Column): Seq[Column] = Seq(
    count(lit(1)).as("flows"),
    sum("packets").as("packets"),
    sum("bytes").as("bytes"),
    round(avg(col("end_ms") - col("start_ms")) / 1000.0d, 4).as("avg_duration_s"),
    distinct(col("dst_port")).as("dport_count"),
    distinct(col("dst_ip")).as("peer_number")) ++
    BitFunctions.tcpFlagCols(col("tcp_flags")).map { case (n, c) =>
      sum(when(col("protocol") === 6, c).otherwise(0L)).as(s"flag_${n.toLowerCase}")
    }

  def apply(flows: DataFrame): DataFrame = {
    val a = aggs(count_distinct(_))
    profiled(flows).groupBy(srcIp).agg(a.head, a.tail: _*)
  }
}
