package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, functions}
import org.apache.spark.sql.functions._
import graft.analytics.{DnsStatistics, HostDailyProfile, HostStats, PatternFinder,
  PortScanDetection, ProtocolStatistics, ReflectDdosDetection, SshAuthDetection,
  TlsClassification, TopNHostStats}
import graft.functions.BitFunctions

/** Event-time windowed forms of the analytics (SURVEY.md §2.5).
  *
  * The reference used processing-time DStream windows with no late-data
  * story; these are event-time windows + watermarks (deliberate semantic
  * upgrade, SURVEY §7.3). Sliding windows share state in the streaming
  * state store; partial aggregation is automatic.
  *
  * Each builder takes a flow stream bearing `event_time` (see
  * [[FlowSource]]) and returns a streaming DataFrame ready for
  * `writeStream` (append mode works once the watermark passes the window).
  *
  * A builder with a batch twin in `graft.analytics` reuses that object's
  * flow predicate, per-flow projection and aggregate list, and adds only
  * the watermark and the event-time window (SURVEY §7.1: one analytic
  * definition for static and streaming frames). The two DNS resolver
  * builders are the exceptions; each says which batch rule it skips.
  */
object StreamingAnalytics {

  /** Event-time window over `event_time`: tumbling, or sliding by `slide`. */
  private def eventWindow(window: String, slide: Option[String] = None): Column =
    slide.fold(functions.window(col("event_time"), window))(
      functions.window(col("event_time"), window, _))

  /** The streaming half every windowed builder adds to an analytic's rows:
    * the watermark, then a group by (window, `keys`) over the analytic's
    * own aggregates. */
  private def windowed(rows: DataFrame, watermark: String, window: Column,
                       keys: Column*)(aggs: Seq[Column]): DataFrame =
    rows.withWatermark("event_time", watermark)
      .groupBy(window +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** W1: tumbling/sliding protocol stats (protocols_statistics.py:99-132;
    * defaults 10 s window — BASELINE.md): [[ProtocolStatistics]]'s flows,
    * key and aggregates per event-time window. */
  def protocolStatistics(flows: DataFrame, window: String = "10 seconds",
                         slide: Option[String] = None,
                         watermark: String = "30 seconds"): DataFrame =
    windowed(flows.filter(ProtocolStatistics.counted), watermark,
      eventWindow(window, slide), ProtocolStatistics.protocol)(ProtocolStatistics.aggs)

  /** W2: sliding host stats (host_stats.py; 10 s/5 s defaults):
    * [[HostStats]] per sliding window. Exact distincts are replaced by HLL
    * (`approx_count_distinct`) — correct trade under unbounded state, and
    * Spark rejects distinct aggregates on streams. */
  def hostStats(flows: DataFrame, window: String = "10 seconds",
                slide: String = "5 seconds",
                watermark: String = "30 seconds"): DataFrame =
    windowed(HostStats.profiled(flows), watermark,
      eventWindow(window, Some(slide)), HostStats.srcIp)(
      HostStats.aggs(approx_count_distinct(_)))

  /** W4: two-level temporal profile — hourly aggregate re-windowed daily
    * (host_daily_profile.py; ST3's global counter replaced by event-time
    * hour index): [[HostDailyProfile]]'s hourly level per event-time hour,
    * emitted one row per (hour, host) with its hour-of-day slot. */
  def dailyProfile(flows: DataFrame, watermark: String = "2 hours"): DataFrame =
    windowed(HostStats.profiled(flows), watermark, eventWindow("1 hour"),
      HostStats.srcIp)(HostDailyProfile.hourlyAggs)
      .select(col("window.start").as("hour_start"), col("src_ip"),
        col("packets"), col("bytes"), col("flows"),
        hour(col("window.start")).as("hour_slot"))

  /** Windowed per-host distinct-peer SKETCHES — the streaming face of
    * [[graft.scale.Sketches.buildLayer]]. Each emitted row carries the
    * window, the host, the DataSketches HLL binary AND its estimate: a
    * `foreachBatch` parquet append of the binary column IS the persisted
    * sketch layer, so any later rollup (per day, per host group, global,
    * arbitrary window ranges) unions sketches without touching the flow
    * stream again — where [[hostStats]]'s `approx_count_distinct`
    * emits only the number, unusable for re-aggregation. */
  def hostCardinality(flows: DataFrame, window: String = "1 hour",
                      watermark: String = "30 seconds",
                      lgK: Int = 12): DataFrame =
    flows
      .filter(coalesce(col("src_ip4"), col("src_ip6")).isNotNull &&
        col("dst_ip").isNotNull)
      .withWatermark("event_time", watermark)
      .groupBy(eventWindow(window), HostStats.srcIp)
      .agg(hll_sketch_agg(col("dst_ip"), lit(lgK)).as("sketch"))
      .select(col("window.start").as("window_start"), col("src_ip"),
        col("sketch"), hll_sketch_estimate(col("sketch")).as("peer_est"))

  /** S5/J7/A15 streaming: TLS suite normalization → broadcast dictionary
    * join → 3-way stat fanout ([[TlsClassification.contributions]]) →
    * windowed counts (tls_classification.py:142-221). Broadcast joins work
    * unchanged on streaming frames. */
  def tlsClassification(flows: DataFrame,
                        dict: Seq[TlsClassification.DictEntry],
                        window: String = "60 seconds",
                        watermark: String = "2 minutes"): DataFrame =
    windowed(TlsClassification.contributions(flows, dict, carry = Seq("event_time")),
      watermark, eventWindow(window), col("stat_type"), col("key"))(
      Seq(count(lit(1)).as("value")))

  /** W1 + F12: windowed DNS statistics (dns_statistics.py:258-260, 60 s
    * default). Emits per-window (stat_type, key) counts of
    * [[DnsStatistics.contributions]]; the top-N cut is a read-side concern
    * (ReadSide.nestedTopN / T2) since global ranking inside an append-mode
    * stream is not expressible — the reference did the same sort
    * driver-side per batch. */
  def dnsStatistics(flows: DataFrame, window: String = "60 seconds",
                    watermark: String = "2 minutes"): DataFrame =
    windowed(DnsStatistics.contributions(flows, carry = Seq("event_time")),
      watermark, eventWindow(window), col("stat_type"), col("key"))(
      Seq(count(lit(1)).as("value")))

  /** T1 streaming (top_n_host_stats.py:155-202): per-window
    * (src_ip, stat_type, key) flow counts of
    * [[TopNHostStats.contributions]] — the windowed-counts half of the
    * per-host top-N. The rank CUT is a read-side concern
    * (ReadSide.nestedTopN over the stored counts): ranking inside an
    * append-mode stream is not expressible, and the reference likewise
    * sorted driver-side per batch — same split as [[dnsStatistics]]. */
  def topNHostStats(flows: DataFrame, window: String = "10 seconds",
                    watermark: String = "30 seconds"): DataFrame =
    windowed(TopNHostStats.contributions(flows, carry = Seq("event_time")),
      watermark, eventWindow(window), col("src_ip"), col("stat_type"), col("key"))(
      Seq(count(lit(1)).as("flows")))

  /** ST1 end-to-end: SYN flows keyed by scan identity (horizontal =
    * src×dst_port, vertical = src×dst_ip — ports_scan.py:180-188).
    *
    * Counting lives inside the dedup state rather than a preceding
    * windowed aggregation: Structured Streaming disallows
    * flatMapGroupsWithState downstream of an aggregation, and the
    * reference's driver dict did exactly this accumulate-in-state anyway. */
  def scanObservations(flows: DataFrame): Dataset[ReportDedup.Observation] = {
    import flows.sparkSession.implicits._
    val syn = flows.filter(PortScanDetection.synProbe)
    val h = syn.select(
      concat_ws("|", lit("horizontal"), col("src_ip4"), col("dst_port")).as("key"),
      col("start_ms").as("ts"), lit(1L).as("flows"))
    val v = syn.select(
      concat_ws("|", lit("vertical"), col("src_ip4"), col("dst_ip")).as("key"),
      col("start_ms").as("ts"), lit(1L).as("flows"))
    h.unionByName(v).as[ReportDedup.Observation]
  }

  /** Streaming port-scan reports with increment semantics + state GC —
    * the full ports_scan.py pipeline shape (filter → key → stateful
    * dedup → report stream). */
  def portScanReports(flows: DataFrame, reportIntervalMs: Long = 60000L,
                      gcMs: Long = 0L): Dataset[ReportDedup.Report] =
    ReportDedup(scanObservations(flows), reportIntervalMs, gcMs)

  /** SSH brute-force candidates ([[SshAuthDetection.candidate]] at the
    * reference default bands) keyed src_ip4|dst_ip through the same dedup
    * state (ssh_auth_simple.py:170-179 band filter + :61-81 reporting). */
  def sshAuthReports(flows: DataFrame, reportIntervalMs: Long = 300000L,
                     gcMs: Long = 0L): Dataset[ReportDedup.Report] = {
    import flows.sparkSession.implicits._
    val obs = flows
      .filter(SshAuthDetection.candidate() &&
        col("src_ip4").isNotNull && col("dst_ip").isNotNull)
      .select(concat_ws("|", col("src_ip4"), col("dst_ip")).as("key"),
        col("start_ms").as("ts"), lit(1L).as("flows"))
      .as[ReportDedup.Observation]
    ReportDedup(obs, reportIntervalMs, gcMs)
  }

  /** J5 streaming form: biflow request/response pairing as a watermarked
    * stream-stream self-join of [[PatternFinder.biflowSides]] — equi-join
    * on the canonical biflow key with an event-time range condition
    * (pattern_finder.py:168-194; configuration.yml:110's ±tolerance),
    * where the batch [[PatternFinder.biflows]] filters start times after
    * the join. */
  def biflowPairs(flows: DataFrame, tolerance: String = "500 milliseconds",
                  watermark: String = "30 seconds",
                  vector: Seq[Column] = Nil): DataFrame = {
    val (req, rsp) = PatternFinder.biflowSides(flows, vector, carry = Seq("event_time"))
    // feature columns ride along so PatternFinder.classify composes
    // directly on the joined stream (full streaming pattern_finder)
    req.withWatermark("req_event_time", watermark)
      .join(rsp.withColumnRenamed("biflow_key", "rsp_key")
        .withWatermark("rsp_event_time", watermark),
        expr(s"biflow_key = rsp_key AND " +
          s"rsp_event_time BETWEEN req_event_time - interval $tolerance " +
          s"AND req_event_time + interval $tolerance"))
      .select(Seq(col("biflow_key"), col("req_id"), col("rsp_id"),
        col("client_ip"), col("server_ip"),
        col("req_event_time").as("req_time"), col("rsp_event_time").as("rsp_time"),
        col("req_start_ms"), col("req_end_ms"),
        col("req_packets"), col("req_bytes"),
        col("rsp_packets"), col("rsp_bytes"))
        ++ (if (vector.isEmpty) Nil
            else Seq(col("req_vec"), col("rsp_vec"))): _*)
  }

  /** ST2 end-to-end: the full streaming pattern_finder — biflow pairing
    * (J5 stream-stream join) → per-pair one-hot weighted bin vectors →
    * keyed report state with distribution carry-over
    * (pattern_finder.py:250-331). Emitted reports carry the cumulative
    * distribution (window sum + previously reported sums);
    * Documents.patternFinderDoc shapes them into @type=pattern_finder. */
  def patternFinderReports(flows: DataFrame,
                           patterns: Seq[PatternFinder.Pattern],
                           cfg: PatternFinder.DistConfig,
                           reportIntervalMs: Long = 300000L,
                           tolerance: String = "500 milliseconds",
                           watermark: String = "30 seconds",
                           gcMs: Long = 0L,
                           vector: Seq[Column] = Nil): Dataset[ReportDedup.PatternReport] = {
    import flows.sparkSession.implicits._
    val pairs = biflowPairs(flows, tolerance, watermark, vector)
    val vec =
      if (vector.isEmpty) None
      else Some(PatternFinder.biflowVector)
    val obs = vec.fold(
      PatternFinder.patternObservations(pairs, patterns, cfg))(
      v => PatternFinder.patternObservations(pairs, patterns, cfg, v))
      .as[ReportDedup.PatternObservation]
    ReportDedup.patterns(obs, reportIntervalMs,
      cfg.intervals.size, cfg.mid, cfg.limit, gcMs)
  }

  /** Windowed open-resolver inventory (dns_open_resolvers.py:51-68):
    * NoError A-record answers grouped per (resolver, data, query) with
    * first-seen (T5). CIDR/whitelist filtering composes upstream via
    * `GraftFunctions.cidrMatch` / rlike.
    *
    * Not the batch [[graft.analytics.DnsOpenResolvers]] rule: that keeps
    * A, NS, CNAME and AAAA answers, decodes rdata per record type
    * (`rdataDecode`, here `rdataToIpv4`) and applies the local→external
    * CIDR direction filter itself. */
  def openResolvers(flows: DataFrame, window: String = "60 seconds",
                    watermark: String = "2 minutes"): DataFrame =
    flows
      .filter(col("dns_flags").isNotNull &&
        BitFunctions.dnsIsResponse(col("dns_flags")) &&
        BitFunctions.dnsRcode(col("dns_flags")) === 0 &&
        col("dns_crr_type") === 1 && col("dns_rdata").isNotNull &&
        col("src_ip4").isNotNull)
      .select(col("src_ip4").as("resolver_ip"),
        graft.functions.DnsFunctions.rdataToIpv4(col("dns_rdata")).as("resolved_data"),
        col("dns_name").as("resolved_query"),
        col("start_ms"), col("event_time"))
      .withWatermark("event_time", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("event_time"), window),
        col("resolver_ip"), col("resolved_data"), col("resolved_query"))
      .agg(count(lit(1)).as("flows"), min("start_ms").as("first_seen_ms"))

  /** Long-horizon per-destination traffic profile held in keyed state. */
  final case class DdosProfile(packets: Long, flows: Long)

  /** One emitted DDoS detection (detection_ddos.py:155-163 semantics). */
  final case class DdosDetection(dst_ip: String, short_ratio: Double,
                                 long_ratio: Double, packets: Long, flows: Long)

  /** The DDoS keyed-state update, factored out so the timeout/eviction
    * branch is unit-testable with TestGroupState (a ProcessingTimeTimeout
    * keeps a local test query triggering sweep batches forever, so the
    * eviction path can't be driven through processAllAvailable). */
  def ddosUpdate(ratioIncrease: Double, minPackets: Long, stateTtlMs: Long)(
      dst: String, rows: Iterator[(String, Long)],
      state: org.apache.spark.sql.streaming.GroupState[DdosProfile])
      : Iterator[DdosDetection] = {
    if (state.hasTimedOut) { // TTL eviction: idle profile dropped
      state.remove()
      Iterator.empty
    } else {
      var pk = 0L
      var fl = 0L
      rows.foreach { r => pk += r._2; fl += 1 }
      val prior = state.getOption
      val out = prior match {
        case Some(p) if fl > 0 && p.flows > 0 && pk >= minPackets =>
          val shortRatio = pk.toDouble / fl
          val longRatio = p.packets.toDouble / p.flows
          if (shortRatio >= longRatio * ratioIncrease)
            Iterator.single(DdosDetection(dst, shortRatio, longRatio, pk, fl))
          else Iterator.empty
        case _ => Iterator.empty
      }
      if (fl > 0) state.update(prior match {
        case Some(p) => DdosProfile(p.packets + pk, p.flows + fl)
        case None    => DdosProfile(pk, fl)
      })
      if (stateTtlMs > 0 && state.exists) state.setTimeoutDuration(stateTtlMs)
      out
    }
  }

  /** W3/J3 streaming: the DDoS short-vs-long-horizon comparison
    * (detection_ddos.py:122-163) as keyed state over the batch form's
    * watched flows ([[graft.analytics.DdosDetection.watched]]). Joining two
    * differently-windowed streaming aggregates is unsupported, so the
    * long horizon lives as per-dst (packets, flows) counters in
    * `flatMapGroupsWithState` — checkpointed by the state store (crash
    * recovery for free), incrementally updated, never rewritten.
    *
    * Per microbatch and destination: fold the batch's flows into a short
    * horizon (packets, flows); against the PRIOR profile, emit a
    * detection when the short packet/flow ratio ≥ `ratioIncrease` × the
    * profile ratio with at least `minPackets` short packets (no emission
    * until a profile exists — the reference also warms up first); then
    * fold the short horizon into the profile.
    *
    * Scale: one shuffle on dst_ip, state is 16 bytes per distinct
    * destination, and per-batch work is proportional to the batch — no
    * profile-table read/rewrite per trigger (the previous foreachBatch
    * form rewrote the whole profile every 30 s batch and could lose the
    * profile on a crash between report and overwrite). Emitted rows are
    * final, so the operator runs in Append mode and file sinks work. */
  def ddosKeyedState(flows: DataFrame, dstPattern: String,
                     ratioIncrease: Double, minPackets: Long,
                     stateTtlMs: Long = 0L): Dataset[DdosDetection] = {
    import flows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // stateTtlMs > 0 bounds the profile map: a destination idle past the
    // TTL is dropped (the reference GC'd its driver dict daily; an
    // unfiltered /0 watch pattern would otherwise grow state forever)
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    flows
      .filter(graft.analytics.DdosDetection.watched(dstPattern))
      .select(col("dst_ip").as[String], col("packets").cast("long").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[DdosProfile, DdosDetection](
        OutputMode.Append, timeout)(
        ddosUpdate(ratioIncrease, minPackets, stateTtlMs))
  }

  /** F6/J6/W1 streaming: reflected-DDoS detection as a windowed
    * conditional aggregation (reflectdos_main.py:140-199 — the reference's
    * 20 s processing-time window over a union of two keyed streams;
    * [[ReflectDdosDetection]]'s legs, aggregates and alert gates, with an
    * event-time tumbling window).
    * `replies` sums reply PACKETS and gates strictly, matching
    * `stats[2] > minimal_replies` (:153,178). */
  def reflectDdos(flows: DataFrame, dnsServers: Seq[String],
                  ratioThreshold: Double = 3.0, minReplies: Long = 10L,
                  window: String = "20 seconds",
                  watermark: String = "1 minute"): DataFrame =
    ReflectDdosDetection.alerts(
      windowed(ReflectDdosDetection.legs(flows, dnsServers, carry = Seq("event_time")),
        watermark, eventWindow(window), col("src_ip"), col("dns_ip"))(
        ReflectDdosDetection.aggs),
      ratioThreshold, minReplies)

  /** J4 streaming form: stream-stream interval join with watermarks on
    * both sides (dns_external_resolvers.py:158-166).
    *
    * Not the batch [[graft.analytics.DnsExternalResolvers]] rule: the
    * tolerance window here opens at the DNS flow's start (`event_time`),
    * the batch one at its end (`end_ms`); and rows are emitted per pair,
    * not aggregated per (client, resolver). */
  def externalResolvers(flows: DataFrame, tolerance: String = "5 seconds",
                        watermark: String = "1 minute"): DataFrame = {
    val dns = flows
      .filter(col("protocol") === 17 &&
        BitFunctions.dnsIsResponse(col("dns_flags")) && col("src_ip4").isNotNull)
      .select(col("src_ip4").as("client_ip"), col("dst_ip").as("resolver_ip"),
        col("event_time").as("dns_time"))
      .withWatermark("dns_time", watermark)
    val tcp = flows
      .filter(col("protocol") === 6 && col("src_ip4").isNotNull)
      .select(col("src_ip4").as("tcp_client_ip"), col("event_time").as("tcp_time"))
      .withWatermark("tcp_time", watermark)
    tcp.join(dns,
      expr(s"tcp_client_ip = client_ip AND " +
        s"tcp_time BETWEEN dns_time AND dns_time + interval $tolerance"))
      .select(col("client_ip"), col("resolver_ip"), col("tcp_time"), col("dns_time"))
  }
}
