package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Network-address helpers (SURVEY.md §2.8 X1-X2).
  *
  * Pure `Column` composites over built-in functions — codegen'd by
  * Catalyst, no UDFs, so predicate pushdown and column pruning survive.
  * Reference semantics: ssh_auth_simple.py:139-150 (v4/v6 coalesce),
  * protocols_statistics.py:82-96 (protocol names). CIDR membership (F4)
  * is the native [[graft.expressions.CidrMatch]]
  * (`GraftFunctions.cidrMatch`).
  */
object NetFunctions {

  /** Prefer IPv4, fall back to IPv6 (reference get_ip pattern, X2). */
  def ipCoalesce(v4: Column, v6: Column): Column = coalesce(v4, v6)

  /** 6→"tcp", 17→"udp", else "other" (reference X1). */
  def protocolName(protocol: Column): Column =
    when(protocol === 6, "tcp").when(protocol === 17, "udp").otherwise("other")
}
