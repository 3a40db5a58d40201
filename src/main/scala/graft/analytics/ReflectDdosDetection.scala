package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reflected (amplification) DDoS detection against watched DNS servers.
  *
  * Reference: applications/detection/reflect_ddos/spark/reflectdos_main.py —
  * flows to/from a configured DNS-server list (:127,134 — F6 isin filter),
  * per (victim, dns_server): bytes received vs sent and reply PACKETS
  * (:140-153 — stats[2] sums packetDeltaCount); alert when received/sent
  * ratio > `ratioThreshold` and reply packets STRICTLY exceed
  * `minReplies` (:178-179, `stats[2] > minimal_replies`).
  *
  * The reference unions two keyed streams then reduces (:140); restructured
  * to conditional aggregation over one scan — the victim is the non-server
  * endpoint on either direction, so both directions land on the same
  * (victim, server) key without a union.
  */
object ReflectDdosDetection {

  /** One (victim, server) leg per watched UDP flow: the victim is the
    * non-server endpoint; bytes and reply packets land on the received
    * side when the server sent the flow, on the sent side otherwise.
    * `carry` columns (e.g. event_time for streaming windows) ride along —
    * shared with [[graft.streaming.StreamingAnalytics.reflectDdos]]. */
  def legs(flows: DataFrame, dnsServers: Seq[String],
           carry: Seq[String] = Nil): DataFrame = {
    val toServer   = col("dst_ip").isin(dnsServers: _*)
    val fromServer = col("src_ip4").isin(dnsServers: _*)
    flows
      .filter(col("protocol") === 17 && col("bytes").isNotNull &&
        col("src_ip4").isNotNull && col("dst_ip").isNotNull &&
        (toServer || fromServer))
      .select(Seq(
        when(fromServer, col("dst_ip")).otherwise(col("src_ip4")).as("src_ip"),
        when(fromServer, col("src_ip4")).otherwise(col("dst_ip")).as("dns_ip"),
        when(fromServer, col("bytes")).otherwise(0L).as("bytes_received"),
        when(!fromServer, col("bytes")).otherwise(0L).as("bytes_sent"),
        when(fromServer, coalesce(col("packets"), lit(0L))).otherwise(0L)
          .as("replies"),
        when(!fromServer, 1L).otherwise(0L).as("requests")) ++
        carry.map(col): _*)
  }

  /** The per-(victim, server) aggregates over [[legs]]. */
  def aggs: Seq[Column] = Seq(
    sum("bytes_received").as("data_received"),
    sum("bytes_sent").as("data_sent"),
    sum("replies").as("replies"),
    sum("requests").as("outgoing_connections"))

  /** Amplification and reply gates over the aggregated legs. */
  def alerts(stats: DataFrame, ratioThreshold: Double, minReplies: Long): DataFrame =
    stats
      .filter(col("data_sent") =!= 0)
      .withColumn("amplification",
        round(col("data_received").cast("double") / col("data_sent"), 4))
      .filter(col("amplification") > ratioThreshold && col("replies") > minReplies)

  def apply(flows: DataFrame, dnsServers: Seq[String],
            ratioThreshold: Double = 3.0, minReplies: Long = 10L): DataFrame =
    alerts(legs(flows, dnsServers).groupBy("src_ip", "dns_ip")
      .agg(aggs.head, aggs.tail: _*), ratioThreshold, minReplies)
}
