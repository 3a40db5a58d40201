package graft.analytics

import org.apache.spark.sql.DataFrame
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
  * [[graft.streaming.StreamingAnalytics.hostStats]] uses HLL sketches
  * (no extra shuffle for distinct expansion).
  *
  * TCP-flag vector (host_stats.py:54-71, 228-245): 8 bit-extract columns
  * summed — stays in whole-stage codegen, vs the reference's per-record
  * Python '{0:08b}'.format + zip-sum.
  */
object HostStats {

  /** Flow columns this analytic consumes (see ProtocolStatistics.inputCols). */
  val inputCols: Seq[String] = Seq("src_ip4", "src_ip6", "dst_ip", "dst_port",
    "protocol", "packets", "bytes", "tcp_flags", "start_ms", "end_ms")

  private def base(flows: DataFrame) = {
    val f = flows.filter(
      coalesce(col("src_ip4"), col("src_ip6")).isNotNull &&
        col("packets").isNotNull && col("bytes").isNotNull)
    f.groupBy(NetFunctions.ipCoalesce(col("src_ip4"), col("src_ip6")).as("src_ip"))
  }

  private def flagAggs = BitFunctions.tcpFlagCols(col("tcp_flags")).map {
    case (n, c) => sum(when(col("protocol") === 6, c).otherwise(0L)).as(s"flag_${n.toLowerCase}")
  }

  def apply(flows: DataFrame): DataFrame = {
    val aggs = Seq(
      sum("packets").as("packets"),
      sum("bytes").as("bytes"),
      round(avg(col("end_ms") - col("start_ms")) / 1000.0d, 4).as("avg_duration_s"),
      count_distinct(col("dst_port")).as("dport_count"),
      count_distinct(col("dst_ip")).as("peer_number")) ++ flagAggs
    base(flows).agg(count(lit(1)).as("flows"), aggs: _*)
  }
}
