package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{BitFunctions, DnsFunctions}

/** DNS traffic statistics: one flow fans out to 0..N (stat_type, key)
  * contributions, aggregated per key with a global top-N cut per stat type.
  *
  * Reference: applications/statistics/dns_statistics/spark/
  * dns_statistics.py:169-219 (get_dns_stats_mapping flatMap, F12) + top-100
  * truncation (:84-90, T2). The dict-emitting flatMap becomes
  * explode(array(struct…)) + null filter — a Catalyst Generate node, no
  * custom UDTF (SURVEY.md §2.10).
  *
  * Emitted stat types: queried_domain (queries), qtype (queries),
  * rcode (responses), nxdomain_by_domain (rcode 3), queried_by_ip (queries).
  */
object DnsStatistics {

  /** Flow columns this analytic consumes (see ProtocolStatistics.inputCols). */
  val inputCols: Seq[String] = Seq("dns_name", "dns_flags", "dns_qtype",
    "src_ip4", "src_ip6")

  /** F12 fanout: one DNS flow → 0..5 (stat_type, key) contribution rows.
    * `carry` columns (e.g. event_time for streaming windows) ride along. */
  def contributions(flows: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val dns = flows.filter(col("dns_name").isNotNull && col("dns_flags").isNotNull)
    val isResp = BitFunctions.dnsIsResponse(col("dns_flags"))
    val rcode = BitFunctions.dnsRcode(col("dns_flags"))
    val fanout = array(
      struct(lit("queried_domain").as("stat_type"),
        when(!isResp, col("dns_name")).as("key")),
      struct(lit("qtype").as("stat_type"),
        when(!isResp, DnsFunctions.qtypeName(col("dns_qtype"))).as("key")),
      struct(lit("rcode").as("stat_type"),
        when(isResp, DnsFunctions.rcodeName(rcode)).as("key")),
      struct(lit("nxdomain_by_domain").as("stat_type"),
        when(isResp && rcode === 3, col("dns_name")).as("key")),
      struct(lit("queried_by_ip").as("stat_type"),
        when(!isResp, coalesce(col("src_ip4"), col("src_ip6"))).as("key")))
    dns.select(explode(fanout).as("c") +: carry.map(col): _*)
      .select(col("c.stat_type") +: col("c.key") +: carry.map(col): _*)
      .filter(col("key").isNotNull)
  }

  def apply(flows: DataFrame, topN: Int = 100): DataFrame = {
    contributions(flows)
      .groupBy("stat_type", "key")
      .agg(count(lit(1)).as("value"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("stat_type").orderBy(col("value").desc, col("key").asc)))
      .filter(col("rank") <= topN)
      .drop("rank")
  }
}
