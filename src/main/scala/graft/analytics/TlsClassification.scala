package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TLS client classification via cipher-suite dictionary lookup.
  *
  * Reference: applications/statistics/tls_classification/spark/
  * tls_classification.py — cipher-suite normalization (strip 0x, swap byte
  * pairs per 4-hex group — wire little-endian fix — drop 0x0000 padding,
  * comma-join; :142-163 X10), driver-broadcast CSV dictionary (:44-83 S5),
  * per-suite lookup then re-aggregation to os/browser/application keys
  * (:166-221 A15), unknowns counted per stat type.
  *
  * Spark-first: the dictionary is a small DataFrame joined with an explicit
  * broadcast() hint (J7) — the idiomatic replacement for the hand-rolled
  * sparkContext.broadcast dict; normalization is a pure Column composite
  * (regexp_extract_all + transform), no UDF.
  */
object TlsClassification {

  /** suites-key → (device, os, application, browser); modeled on the
    * reference dictionary shape (tls_classification_dictionary.csv:
    * suites;device;os;application;browser). */
  final case class DictEntry(suites: String, device_type: String,
                             operating_system: String, application: String,
                             browser: String)

  /** Normalize "0x2f00350033003900…" → "002f,0035,0033,0039" (X10). */
  def formatCipherSuites(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val groups = regexp_extract_all(substring(raw, 3, 1 << 20), lit("[0-9a-fA-F]{4}"), lit(0))
    val swapped = transform(groups,
      g => concat(substring(g, 3, 2), substring(g, 1, 2)))
    array_join(filter(swapped, g => g =!= "0000"), ",")
  }

  /** Suite filter → broadcast dictionary join → 3-way (stat_type, key)
    * fanout, one row per stat type per TLS flow; an unknown suite counts
    * as "Unknown". `carry` columns (e.g. event_time for streaming windows)
    * ride along — shared by the batch counts and
    * [[graft.streaming.StreamingAnalytics.tlsClassification]]. */
  def contributions(flows: DataFrame, dict: Seq[DictEntry],
                    carry: Seq[String] = Nil): DataFrame = {
    import flows.sparkSession.implicits._
    val withSuites = flows
      .filter(col("tls_cipher_suites").isNotNull &&
        col("tls_cipher_suites") =!= "0x00000000000000000000000000000000")
      .select(formatCipherSuites(col("tls_cipher_suites")).as("suites") +:
        carry.map(col): _*)
    withSuites.join(broadcast(dict.toDF()), Seq("suites"), "left")
      .select(explode(array(
        struct(lit("operating_system").as("stat_type"),
          coalesce(col("operating_system"), lit("Unknown")).as("key")),
        struct(lit("browser").as("stat_type"),
          coalesce(col("browser"), lit("Unknown")).as("key")),
        struct(lit("application").as("stat_type"),
          coalesce(col("application"), lit("Unknown")).as("key")))).as("c") +:
        carry.map(col): _*)
      .select(col("c.stat_type") +: col("c.key") +: carry.map(col): _*)
  }

  def apply(spark: SparkSession, flows: DataFrame, dict: Seq[DictEntry]): DataFrame =
    contributions(flows, dict)
      .groupBy("stat_type", "key")
      .agg(count(lit(1)).as("value"))
}
