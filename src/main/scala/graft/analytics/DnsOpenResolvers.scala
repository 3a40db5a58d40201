package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions
import graft.functions.{BitFunctions, DnsFunctions}

/** Open DNS resolver detection: local hosts answering external queries.
  *
  * Reference: applications/detection/dns_open_resolvers/spark/
  * dns_open_resolvers.py — successful answers (rcode NoError, :138-140)
  * with resource-record types A/NS/CNAME/AAAA (:134-137), local→external
  * direction filter (:176-186 — F7, CIDR-based; a flow with an address
  * netaddr rejects, such as `10.0.100.300`, is dropped), rdata decoded
  * per rrtype (:157, DNSResponseConverter), whitelist regex drop
  * (:150-152 — X8), grouped per (resolver, decoded answer, query name)
  * with flow counts (:51-68).
  */
object DnsOpenResolvers {

  def apply(flows: DataFrame, localCidr: String,
            whitelistRegex: Option[String] = None): DataFrame = {
    val resp = flows.filter(
      col("dns_flags").isNotNull &&
        BitFunctions.dnsIsResponse(col("dns_flags")) &&
        BitFunctions.dnsRcode(col("dns_flags")) === 0 &&
        col("dns_crr_type").isin(1, 2, 5, 28) &&
        col("dns_rdata").isNotNull &&
        col("src_ip4").isNotNull &&
        GraftFunctions.cidrMatch(col("src_ip4"), lit(localCidr)) &&
        !GraftFunctions.cidrMatch(col("dst_ip"), lit(localCidr)))
    val cleaned = whitelistRegex match {
      case Some(re) => resp.filter(!col("dns_name").rlike(re))
      case None     => resp
    }
    cleaned
      .select(
        col("src_ip4").as("resolver_ip"),
        DnsFunctions.rdataDecode(col("dns_rdata"), col("dns_crr_type")).as("resolved_data"),
        col("dns_name").as("resolved_query"),
        col("start_ms"))
      .groupBy("resolver_ip", "resolved_data", "resolved_query")
      .agg(count(lit(1)).as("flows"), min("start_ms").as("first_seen_ms"))
  }
}
