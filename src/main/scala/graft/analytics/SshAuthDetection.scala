package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NetFunctions

/** SSH brute-force authentication detection.
  *
  * Reference: applications/detection/ssh_auth_simple/spark/
  * ssh_auth_simple.py:153-207 — flow shape filter (TCP, dst port 22,
  * ephemeral src port, byte/packet/duration bands, :170-179), then per
  * (src, dst) flow count + incremental mean packet count (:190-201).
  * The reference's order-dependent running mean is a plain avg() here
  * (SURVEY.md §2.4 A10 — semantic upgrade, order-invariant).
  */
object SshAuthDetection {

  final case class Bands(
      minPackets: Long = 10, maxPackets: Long = 20,
      minBytes: Long = 1800, maxBytes: Long = 5000,
      maxDurationMs: Long = 12000)

  /** Brute-force candidates: TCP to port 22 from an ephemeral port, with
    * packets, bytes and duration inside `bands` (ssh_auth_simple.py
    * :170-179) — batch and
    * [[graft.streaming.StreamingAnalytics.sshAuthReports]]. */
  def candidate(bands: Bands = Bands()): Column =
    col("protocol") === 6 && col("dst_port") === 22 &&
      col("src_port") > 1024 &&
      col("packets") > bands.minPackets && col("packets") < bands.maxPackets &&
      col("bytes") > bands.minBytes && col("bytes") < bands.maxBytes &&
      col("end_ms") - col("start_ms") < bands.maxDurationMs

  def apply(flows: DataFrame, minFlows: Long,
            bands: Bands = Bands()): DataFrame = {
    flows
      .filter(candidate(bands))
      .groupBy(
        NetFunctions.ipCoalesce(col("src_ip4"), col("src_ip6")).as("src_ip"),
        col("dst_ip"))
      .agg(
        count(lit(1)).as("flows"),
        round(avg("packets"), 4).as("average_packet_count"),
        (max("end_ms") - min("start_ms")).as("duration_ms"),
        max("end_ms").as("last_seen_ms"))
      .filter(col("flows") >= minFlows)
  }
}
