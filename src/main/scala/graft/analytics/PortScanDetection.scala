package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.BitFunctions

/** Horizontal + vertical TCP SYN port-scan detection.
  *
  * Reference: applications/detection/ports_scan/spark/ports_scan.py:170-218 —
  * pure-SYN filter (:176-177), horizontal key (src, dst_port) counting
  * distinct target IPs, vertical key (src, dst_ip) counting distinct ports.
  * The reference's order-dependent concat-if-new target dedup (:202-216) is
  * restructured to well-defined count_distinct/min/max semantics
  * (SURVEY.md §2.4 A11 — deliberate semantic upgrade).
  */
object PortScanDetection {

  /** Scan candidates: pure-SYN TCP flows with both endpoints and a
    * destination port — batch and
    * [[graft.streaming.StreamingAnalytics.scanObservations]]. */
  def synProbe: Column =
    col("protocol") === 6 && col("tcp_flags").isNotNull &&
      BitFunctions.pureSyn(col("tcp_flags")) &&
      col("src_ip4").isNotNull && col("dst_ip").isNotNull &&
      col("dst_port").isNotNull

  /** @param minTargets detection threshold (reference default 20). */
  def apply(flows: DataFrame, minTargets: Long): DataFrame = {
    val syn = flows.filter(synProbe)

    def scan(kind: String, key2: String, target: String) =
      syn.groupBy(col("src_ip4").as("src_ip"), col(key2).cast("string").as("key"))
        .agg(
          lit(kind).as("scan_type"),
          count(lit(1)).as("flows"),
          count_distinct(col(target)).as("targets_total"),
          (max("end_ms") - min("start_ms")).as("duration_ms"),
          max("end_ms").as("last_seen_ms"))
        .filter(col("targets_total") >= minTargets)
        .select("scan_type", "src_ip", "key", "flows", "targets_total",
          "duration_ms", "last_seen_ms")

    scan("horizontal", "dst_port", "dst_ip")
      .unionByName(scan("vertical", "dst_ip", "dst_port"))
  }
}
