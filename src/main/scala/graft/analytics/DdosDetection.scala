package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DDoS detection via short-horizon vs long-horizon traffic-ratio compare.
  *
  * Reference: applications/detection/ddos/spark/detection_ddos.py — 30 s
  * base window vs 7200 s long profile per dst_ip (:122,144,188-189), ratio =
  * incoming/outgoing packets (:86-87,160-163), alert when short ratio ≥
  * `ratioIncrease` × long ratio and incoming packets ≥ `minPackets`
  * (:186-189); attacker set via collect_set (:129,139-141).
  *
  * Batch form: the "short" window is [splitMs, ∞), the long profile is
  * everything before it. Two aggregates over one scan + an equi-join on
  * dst_ip — the long side is per-key tiny after aggregation, so Catalyst/AQE
  * picks a broadcast hash join at scale.
  *
  * The incoming/outgoing union of the reference (:138) is restructured as
  * conditional aggregation (sum(when…)) — one shuffle, no union.
  */
object DdosDetection {

  /** Flows into the watched network: the reference's regex network
    * filter (detection_ddos.py:111-112 — F5) over flows with a protocol,
    * a packet count and both endpoints — batch and
    * [[graft.streaming.StreamingAnalytics.ddosKeyedState]]. */
  def watched(dstFilter: String): Column =
    col("protocol").isNotNull && col("packets").isNotNull &&
      col("src_ip4").isNotNull && col("dst_ip").isNotNull &&
      col("dst_ip").rlike(dstFilter)

  def apply(flows: DataFrame, splitMs: Long, ratioIncrease: Double = 50.0,
            minPackets: Long = 100000L, dstFilter: String = "192\\.168\\..*"): DataFrame = {
    val f = flows.filter(watched(dstFilter))

    def agg(df: DataFrame, suffix: String) = df
      .groupBy(col("dst_ip"))
      .agg(
        sum(when(col("protocol") === 6, col("packets")).otherwise(0L)).as(s"tcp_packets_$suffix"),
        sum(col("packets")).as(s"packets_$suffix"),
        count(lit(1)).as(s"flows_$suffix"))

    val short = agg(f.filter(col("start_ms") >= splitMs), "short")
    val long  = agg(f.filter(col("start_ms") < splitMs), "long")

    val attackers = f.filter(col("start_ms") >= splitMs)
      .groupBy(col("dst_ip"))
      .agg(array_join(sort_array(collect_set(col("src_ip4"))), ",").as("attackers"))

    short.join(long, Seq("dst_ip"))
      .join(attackers, Seq("dst_ip"))
      .filter(col("packets_long") =!= 0 && col("flows_long") =!= 0)
      .withColumn("shortratio",
        round(col("packets_short").cast("double") / col("flows_short"), 4))
      .withColumn("longratio",
        round(col("packets_long").cast("double") / col("flows_long"), 4))
      .filter(col("shortratio") >= col("longratio") * ratioIncrease &&
        col("packets_short") >= minPackets)
      .select("dst_ip", "shortratio", "longratio", "packets_short", "attackers")
  }
}
