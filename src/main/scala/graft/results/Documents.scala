package graft.results

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Typed result documents (SURVEY.md §1.3) + the date-partitioned store
  * that replaces the reference's daily Elasticsearch indices.
  *
  * Each analytic's flat output is shaped into the reference's `@type`
  * document: nested `stats` structs (host_stats.py:79-133), `data_array`
  * as array-of-struct — the exact relational dual of the ES `nested`
  * mapping (logstash template :95-115); `explode` recovers rows at query
  * time (ReadSide.nestedTopN). Storage is parquet partitioned by `day`,
  * so Catalyst partition pruning replaces ES daily-index selection, and
  * min/max row-group stats replace doc_values skipping.
  */
object Documents {

  /** host_stats flat row → nested @type=host_stats document. */
  def hostStatsDoc(hostStats: DataFrame, tsMs: Column): DataFrame = {
    val flagCols = graft.functions.BitFunctions.tcpFlagNames
      .map(n => s"flag_${n.toLowerCase}")
    hostStats.select(
      lit("host_stats").as("@type"),
      timestamp_millis(tsMs).as("@timestamp"),
      col("src_ip"),
      struct(
        struct(col("packets"), col("bytes"), col("flows").as("flow")).as("total"),
        col("avg_duration_s").as("avg_flow_duration"),
        col("dport_count"),
        col("peer_number"),
        struct(flagCols.map(c => col(c).as(c.stripPrefix("flag_").toUpperCase)): _*)
          .as("tcp_flags"))
        .as("stats"))
  }

  /** (stat_type, key, value[, ip]) rows → @type doc with `data_array`
    * nested array-of-struct (dns_statistics.py:55-100 shape). */
  def dataArrayDoc(stats: DataFrame, atType: String, tsMs: Column,
                   withIp: Boolean = false): DataFrame = {
    val entry =
      if (withIp) struct(col("key"), col("value"), col("ip"))
      else struct(col("key"), col("value"))
    stats
      .groupBy(col("stat_type"))
      .agg(sort_array(collect_list(entry)).as("data_array"))
      .select(
        lit(atType).as("@type"),
        timestamp_millis(tsMs).as("@timestamp"),
        col("stat_type").as("@stat_type"),
        col("data_array"))
  }

  /** host_daily_profile rows (src_ip, day_start_ms, hour_slot, stats…) →
    * the reference's 24-slot temporal-profile document
    * (host_daily_profile.py:155-190): one row per (src_ip, day) with a
    * dense 24-entry array, zero-filled for silent hours. Event-time hour
    * indexing replaces the reference's INCREMENT-modulo slotting
    * (SURVEY §7.4.5). */
  def dailyProfileDoc(profile: DataFrame): DataFrame = {
    val slotted = profile
      .groupBy(col("src_ip"), col("day_start_ms"))
      .agg(map_from_entries(collect_list(struct(col("hour_slot"),
        struct(col("packets"), col("bytes"), col("flows"))))).as("by_hour"))
    slotted.select(
      lit("host_stats_temporal_profile").as("@type"),
      timestamp_millis(col("day_start_ms")).as("@timestamp"),
      col("src_ip").as("src_ipv4"),
      transform(sequence(lit(0), lit(23)), h =>
        coalesce(element_at(col("by_hour"), h.cast("int")),
          struct(lit(0L).as("packets"), lit(0L).as("bytes"), lit(0L).as("flows"))))
        .as("stats"))
  }

  /** ports_scan report rows (PortScanDetection output) →
    * @type=portscan_{horizontal,vertical} documents (ports_scan.py:96-106):
    * horizontal scans carry `dst_port`, vertical scans `dst_ip`, plus the
    * reference's ISO-millisecond `timestamp`. The batch form emits one
    * report per scan, so `flows_increment` equals `flows` (the reference's
    * increment is per-report; the streaming path tracks it in
    * [[graft.streaming.ReportDedup]]). */
  def portScanDoc(scans: DataFrame): DataFrame =
    scans.select(
      concat(lit("portscan_"), col("scan_type")).as("@type"),
      timestamp_millis(col("last_seen_ms")).as("@timestamp"),
      col("src_ip"),
      when(col("scan_type") === "horizontal", col("key")).as("dst_port"),
      when(col("scan_type") === "vertical", col("key")).as("dst_ip"),
      col("flows"),
      col("duration_ms").as("duration_in_milliseconds"),
      graft.functions.TimeFunctions.isoTimestamp(col("last_seen_ms")).as("timestamp"),
      col("flows").as("flows_increment"),
      col("targets_total"))

  /** ssh_auth report rows (SshAuthDetection output) →
    * @type=ssh_auth_simple documents (ssh_auth_simple.py:84-103). */
  def sshAuthDoc(reports: DataFrame): DataFrame =
    reports.select(
      lit("ssh_auth_simple").as("@type"),
      timestamp_millis(col("last_seen_ms")).as("@timestamp"),
      col("src_ip"),
      col("dst_ip"),
      col("flows"),
      col("average_packet_count"),
      col("duration_ms").as("duration_in_milliseconds"),
      graft.functions.TimeFunctions.isoTimestamp(col("last_seen_ms")).as("timestamp"),
      col("flows").as("flows_increment"))

  /** ddos detection rows (DdosDetection output) → @type=detection.ddos
    * documents (detection_ddos.py:73-94): attackers as a list. `tsMs` is
    * the report time (the short-horizon split point in the batch form). */
  def ddosDoc(detections: DataFrame, tsMs: Column): DataFrame =
    detections.select(
      lit("detection.ddos").as("@type"),
      timestamp_millis(tsMs).as("@timestamp"),
      col("dst_ip"),
      col("shortratio"),
      col("longratio"),
      split(col("attackers"), ",").as("attackers"))

  /** external-resolver rows (DnsExternalResolvers output) →
    * @type=external_dns_resolver documents
    * (dns_external_resolvers.py:72-89). */
  def resolverDoc(reports: DataFrame): DataFrame =
    reports.select(
      lit("external_dns_resolver").as("@type"),
      timestamp_millis(col("last_seen_ms")).as("@timestamp"),
      col("client_ip").as("src_ip"),
      col("resolver_ip"),
      col("flows"),
      col("flows").as("flows_increment"),
      graft.functions.TimeFunctions.isoTimestamp(col("last_seen_ms")).as("timestamp"))

  /** T1 ranked rows (TopNHostStats output) → @type=top_n_host_stats doc
    * with the reference's ranked-dict stats shape
    * (top_n_host_stats.py:91-131): `stats` maps each stat name to a
    * rank→(key, flows) dict ("0" = top entry). The reference's per-stat
    * value field names (port / dst_host) are unified to `key` — one map
    * value schema, the relational dual of the heterogeneous JSON. */
  def topNHostStatsDoc(topN: DataFrame, tsMs: Column): DataFrame = {
    val statName = map(
      lit("dst_port"), lit("top_n_dst_ports"),
      lit("dst_ip"), lit("top_n_dst_hosts"),
      lit("http_host"), lit("top_n_http_dst"))
    topN
      .groupBy(col("src_ip"), col("stat_type"))
      .agg(map_from_entries(collect_list(struct(
        (col("rank") - 1).cast("string"),
        struct(col("key"), col("flows"))))).as("ranked"))
      .groupBy(col("src_ip"))
      .agg(map_from_entries(collect_list(struct(
        element_at(statName, col("stat_type")), col("ranked")))).as("stats"))
      .select(
        lit("top_n_host_stats").as("@type"),
        timestamp_millis(tsMs).as("@timestamp"),
        col("src_ip"),
        col("stats"))
  }

  /** pattern_finder report rows (PatternFinder.patternReport output:
    * src_ip, dst_ip, data_array, closest_patterns) →
    * @type=pattern_finder documents (pattern_finder.py:334-378):
    * `configuration` = the YAML analysis name, `data_array` =
    * [{name, distribution[]}] per pattern, `closest_patterns` = the
    * qualifying pattern names with the maximal left half-sum. */
  def patternFinderDoc(reports: DataFrame, configName: String,
                       tsMs: Column): DataFrame =
    reports.select(
      lit("pattern_finder").as("@type"),
      timestamp_millis(tsMs).as("@timestamp"),
      lit(configName).as("configuration"),
      col("src_ip"),
      col("dst_ip"),
      col("data_array"),
      col("closest_patterns"))

  /** Streaming pattern reports (ReportDedup.PatternReport rows: key, ts,
    * flattened `dist`) → the same @type=pattern_finder document as
    * [[patternFinderDoc]]: the patterns-major flattened distribution is
    * re-split per pattern, closest_patterns recomputed from the carried
    * sums (pattern_finder.py:355-375), and a biflow "src-dst" key split
    * back into src_ip / dst_ip (`splitKey = false` keeps the raw key for
    * simple-vector configs). */
  def patternFinderDocFromReports(reports: DataFrame, patternNames: Seq[String],
                                  nBins: Int, mid: Int, limit: Long,
                                  configName: String,
                                  splitKey: Boolean = true): DataFrame = {
    val perPattern = patternNames.zipWithIndex.map { case (n, pi) =>
      val d = slice(col("dist"), pi * nBins + 1, nBins)
      val left = aggregate(slice(d, 1, mid), lit(0L), (a, x) => a + x)
      val right = aggregate(slice(d, mid + 1, nBins - mid), lit(0L), (a, x) => a + x)
      struct(lit(n).as("name"), d.as("distribution"),
        left.as("left"), right.as("right"))
    }
    val qual = filter(array(perPattern: _*),
      h => h.getField("left") >= limit && h.getField("left") > h.getField("right"))
    val keyCols =
      if (splitKey)
        Seq(substring_index(col("key"), "-", 1).as("src_ip"),
          substring_index(col("key"), "-", -1).as("dst_ip"))
      else Seq(col("key"))
    reports
      .withColumn("_qual", qual)
      .select(Seq(
        lit("pattern_finder").as("@type"),
        timestamp_millis(col("ts")).as("@timestamp"),
        lit(configName).as("configuration")) ++ keyCols ++ Seq(
        transform(array(perPattern: _*), p =>
          struct(p.getField("name").as("name"),
            p.getField("distribution").as("distribution"))).as("data_array"),
        transform(
          filter(col("_qual"), h => h.getField("left") ===
            array_max(transform(col("_qual"), q => q.getField("left")))),
          h => h.getField("name")).as("closest_patterns")): _*)
  }

  /** Write documents date-partitioned (daily ES index replacement). */
  def writeDaily(docs: DataFrame, path: String): Unit =
    docs
      .withColumn("day", date_format(col("@timestamp"), "yyyy-MM-dd"))
      .write.mode("append").partitionBy("day").parquet(path)

  /** Read back with partition pruning for a day range (inclusive). */
  def readDaily(spark: org.apache.spark.sql.SparkSession, path: String,
                fromDay: String, toDay: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("day") >= fromDay && col("day") <= toDay)

  /** Partition-scoped retirement, the store-side consumer of a snapshot
    * diff's `removed` list (`CurateApp --retired`): drop every stored row
    * whose `key` appears in `retired`. Day discovery is ONE
    * column-pruned scan of (key, day) semi-joined against the retired
    * keys (the rest of the row never leaves the files); only day
    * partitions that actually hold a retired key are read in full,
    * written to a TEMP SIBLING and swapped in per day
    * ([[graft.scale.Stores.swapPartition]]) — the write reads the
    * still-intact current files, so an executor loss mid-write can
    * always recompute. A day whose every row is retired produces NO
    * temp partition and its store directory is removed outright.
    * Untouched partitions keep their files byte-for-byte. */
  def deleteDaily(spark: org.apache.spark.sql.SparkSession, path: String,
                  retired: DataFrame, key: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    // A prior run that crashed mid-swap leaves a day partition
    // stranded at .old_day=<d>; the root read below would silently miss
    // it and this rewrite would bake the loss in. Roll back first so
    // the read sees every pre-crash row.
    graft.scale.Stores.recoverInterruptedSwaps(fs, root)
    val keys = retired.select(col(key)).distinct()
    val store = spark.read.parquet(path)
      .withColumn("day", col("day").cast("string"))
    val days = store.select(col(key), col("day"))
      .join(keys, Seq(key), "left_semi")
      .select("day").distinct().collect().map(_.getString(0)).toSeq
    if (days.isEmpty) return // nothing stored for these keys
    val kept = store.filter(col("day").isin(days: _*))
      .join(keys, Seq(key), "left_anti")
    val tmp = new org.apache.hadoop.fs.Path(
      root.getParent, s".delete_${root.getName}")
    fs.delete(tmp, true)
    kept.write.mode("overwrite").partitionBy("day").parquet(tmp.toString)
    days.foreach { d =>
      val src = new org.apache.hadoop.fs.Path(tmp, s"day=$d")
      val dst = new org.apache.hadoop.fs.Path(root, s"day=$d")
      if (fs.exists(src)) graft.scale.Stores.swapPartition(fs, dst, src)
      else fs.delete(dst, true) // every row of the day was retired
    }
    fs.delete(tmp, true)
  }
}
