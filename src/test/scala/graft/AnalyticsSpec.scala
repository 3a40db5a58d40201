package graft

import org.apache.spark.sql.functions._
import graft.analytics._

/** Golden scenarios per analytic (FIXTURES.md §5) — each crafts a
  * deterministic flow fixture and asserts the reference-semantics output. */
class AnalyticsSpec extends SparkSpec {

  private val W = 10000L // 10 s window for tests

  test("protocols: {20,40,60} integration assertion (query_for_data.py:6-11)") {
    // 20 TCP + 40 UDP + 60 ICMP flows in one window
    val rows =
      (0 until 20).map(i => Fx(flow_id = i, protocol = 6)) ++
      (0 until 40).map(i => Fx(flow_id = 100 + i, protocol = 17)) ++
      (0 until 60).map(i => Fx(flow_id = 200 + i, protocol = 1))
    val out = rowsOf(ProtocolStatistics(Fx.df(spark, rows: _*), W))
    val byProto = out.map(r => r("protocol") -> r("flows")).toMap
    assert(byProto == Map("tcp" -> 20L, "udp" -> 40L, "other" -> 60L))
  }

  test("protocols: windows split by start_ms") {
    val rows = Seq(
      Fx(flow_id = 1, start_ms = 0L), Fx(flow_id = 2, start_ms = 9999L),
      Fx(flow_id = 3, start_ms = 10000L))
    val out = rowsOf(ProtocolStatistics(Fx.df(spark, rows: _*), W))
    assert(out.map(r => (r("window_start_ms"), r("flows"))).toSet ==
      Set((0L, 2L), (10000L, 1L)))
  }

  test("host stats: totals, distincts, flags, ipv6 coalesce (host_stats.py)") {
    val rows = Seq(
      Fx(flow_id = 1, src_ip4 = "10.1.1.1", dst_ip = "8.8.8.8", dst_port = 80,
        packets = 10, bytes = 100, tcp_flags = 2, start_ms = 0, end_ms = 2000),
      Fx(flow_id = 2, src_ip4 = "10.1.1.1", dst_ip = "8.8.4.4", dst_port = 443,
        packets = 5, bytes = 50, tcp_flags = 18, start_ms = 0, end_ms = 4000),
      Fx(flow_id = 3, src_ip4 = null, src_ip6 = "fd00::1", dst_ip = "8.8.8.8",
        packets = 1, bytes = 10, tcp_flags = 16))
    val out = rowsOf(HostStats(Fx.df(spark, rows: _*)))
    val h = out.find(_("src_ip") == "10.1.1.1").get
    assert(h("flows") == 2L && h("packets") == 15L && h("bytes") == 150L)
    assert(h("dport_count") == 2L && h("peer_number") == 2L)
    assert(h("avg_duration_s") == 3.0d)
    assert(h("flag_syn") == 2L && h("flag_ack") == 1L && h("flag_fin") == 0L)
    assert(out.exists(_("src_ip") == "fd00::1")) // v6 fallback path
  }

  test("top-N: 15 ports -> 10 ranked, ties by key (top_n_host_stats.py)") {
    val rows = (0 until 15).flatMap(p =>
      (0 to p).map(i => Fx(flow_id = p * 100 + i, dst_port = 1000 + p)))
    val out = rowsOf(TopNHostStats(Fx.df(spark, rows: _*), 10))
      .filter(_("stat_type") == "dst_port")
    assert(out.size == 10)
    val top = out.minBy(r => r("rank").asInstanceOf[Int])
    assert(top("key") == "1014") // most flows
    assert(out.map(_("flows").asInstanceOf[Long]).min == 6L)        // p=5 cut
  }

  test("portscan: horizontal (1 src, 25 dsts, port 22, pure SYN) (ports_scan.py)") {
    val scan = (0 until 25).map(i => Fx(flow_id = i, src_ip4 = "10.9.9.9",
      dst_ip = s"192.0.2.$i", dst_port = 22, tcp_flags = 2))
    val noise = Seq(Fx(flow_id = 100, src_ip4 = "10.9.9.9",
      dst_ip = "192.0.2.99", dst_port = 22, tcp_flags = 18)) // SYN+ACK → excluded
    val out = rowsOf(PortScanDetection(Fx.df(spark, scan ++ noise: _*), 20))
    assert(out.size == 1)
    val r = out.head
    assert(r("scan_type") == "horizontal" && r("src_ip") == "10.9.9.9")
    assert(r("key") == "22" && r("targets_total") == 25L)
  }

  test("portscan: vertical (1 src, 1 dst, 30 ports)") {
    val scan = (0 until 30).map(i => Fx(flow_id = i, src_ip4 = "10.9.9.9",
      dst_ip = "192.0.2.1", dst_port = 1000 + i, tcp_flags = 2))
    val out = rowsOf(PortScanDetection(Fx.df(spark, scan: _*), 20))
    assert(out.exists(r => r("scan_type") == "vertical" && r("targets_total") == 30L))
  }

  test("ssh brute force: conforming flows detected, band filters hold (ssh_auth_simple.py:170-179)") {
    val ok = (0 until 10).map(i => Fx(flow_id = i, src_ip4 = "10.2.2.2",
      dst_ip = "192.0.2.7", dst_port = 22, src_port = 40000 + i,
      packets = 15, bytes = 2000, start_ms = 0, end_ms = 5000))
    val bad = Seq(
      ok.head.copy(flow_id = 100, packets = 50),          // packets band
      ok.head.copy(flow_id = 101, bytes = 9999),          // bytes band
      ok.head.copy(flow_id = 102, end_ms = 50000),        // duration
      ok.head.copy(flow_id = 103, src_port = 22),         // ephemeral src
      ok.head.copy(flow_id = 104, dst_port = 443))        // not ssh
    val out = rowsOf(SshAuthDetection(Fx.df(spark, ok ++ bad: _*), minFlows = 10))
    assert(out.size == 1)
    assert(out.head("flows") == 10L && out.head("average_packet_count") == 15.0d)
  }

  test("dns statistics: stat-type fanout (dns_statistics.py:169-219)") {
    val rows = Seq(
      Fx(flow_id = 1, dns_name = "a.example", dns_qtype = Some(1), dns_flags = Some(256L)),
      Fx(flow_id = 2, dns_name = "a.example", dns_qtype = Some(1), dns_flags = Some(256L)),
      Fx(flow_id = 3, dns_name = "b.example", dns_qtype = Some(28), dns_flags = Some(256L)),
      Fx(flow_id = 4, dns_name = "bad.example", dns_flags = Some(33155L)), // NXDomain resp
      Fx(flow_id = 5, dns_name = "ok.example", dns_flags = Some(33152L)))  // NoError resp
    val out = rowsOf(DnsStatistics(Fx.df(spark, rows: _*)))
    def v(st: String, k: String) =
      out.find(r => r("stat_type") == st && r("key") == k).map(_("value"))
    assert(v("queried_domain", "a.example").contains(2L))
    assert(v("qtype", "A").contains(2L) && v("qtype", "AAAA").contains(1L))
    assert(v("rcode", "NXDomain").contains(1L) && v("rcode", "NoError").contains(1L))
    assert(v("nxdomain_by_domain", "bad.example").contains(1L))
    assert(v("queried_by_ip", "10.0.0.1").contains(3L))
  }

  test("golden: 10x input replay scales flow counts 10x (integration-test analog)") {
    // the reference's only test replays a canned capture 10x and asserts
    // the protocol flow counts {20,40,60} (provisioning/test/integration,
    // query_for_data.py:6-21); same invariant here
    val base = Seq.tabulate(6)(i => Fx(flow_id = i, protocol = 6)) ++
      Seq.tabulate(4)(i => Fx(flow_id = 10 + i, protocol = 17)) ++
      Seq.tabulate(2)(i => Fx(flow_id = 20 + i, protocol = 1))
    val replayed = (0 until 10).flatMap(r =>
      base.map(f => f.copy(flow_id = f.flow_id + 1000L * r)))
    val out = rowsOf(ProtocolStatistics(Fx.df(spark, replayed: _*), 3600000L))
    def flows(p: String) = out.find(_("protocol") == p).get("flows")
    assert(flows("tcp") == 60L && flows("udp") == 40L && flows("other") == 20L)
  }

  test("dns statistics: sketch top-N equals exact on a small key space") {
    val rows = (0 until 60).map(i =>
      Fx(flow_id = i, dns_name = s"d${i % 7}.example", dns_qtype = Some(1),
        dns_flags = Some(256L)))
    // topN >= distinct keys: counts must be exact (tie ORDER at a cut is
    // sketch-arbitrary, so no cut here)
    val exact = rowsOf(DnsStatistics(Fx.df(spark, rows: _*), topN = 10))
      .map(r => (r("stat_type"), r("key"), r("value"))).toSet
    val approx = rowsOf(DnsStatistics.applyApprox(Fx.df(spark, rows: _*), topN = 10))
      .map(r => (r("stat_type"), r("key"), r("value"))).toSet
    assert(approx.filter(_._1 == "queried_domain") ==
      exact.filter(_._1 == "queried_domain"))
  }

  test("ddos: short-window packet spike vs long profile (detection_ddos.py)") {
    val long = (0 until 10).map(i => Fx(flow_id = i, src_ip4 = "10.3.0.1",
      dst_ip = "192.168.1.1", packets = 10, start_ms = 1000))
    val spike = (0 until 10).map(i => Fx(flow_id = 100 + i, src_ip4 = s"10.66.0.$i",
      dst_ip = "192.168.1.1", packets = 10000, start_ms = 100000))
    val out = rowsOf(DdosDetection(Fx.df(spark, long ++ spike: _*),
      splitMs = 50000L, ratioIncrease = 50.0, minPackets = 100000L))
    assert(out.size == 1)
    val r = out.head
    assert(r("dst_ip") == "192.168.1.1" && r("packets_short") == 100000L)
    assert(r("attackers").asInstanceOf[String].split(",").length == 10)
  }

  test("reflect ddos: amplification ratio (reflectdos_main.py:151-179)") {
    val reqs = (0 until 12).map(i => Fx(flow_id = i, protocol = 17,
      src_ip4 = "10.4.0.1", dst_ip = "192.0.2.53", bytes = 100))
    val amps = (0 until 12).map(i => Fx(flow_id = 100 + i, protocol = 17,
      src_ip4 = "192.0.2.53", dst_ip = "10.4.0.1", bytes = 1000))
    val out = rowsOf(ReflectDdosDetection(Fx.df(spark, reqs ++ amps: _*),
      dnsServers = Seq("192.0.2.53"), ratioThreshold = 3.0, minReplies = 10))
    assert(out.size == 1)
    val r = out.head
    assert(r("src_ip") == "10.4.0.1" && r("dns_ip") == "192.0.2.53")
    // replies counts reply PACKETS (stats[2] = packetDeltaCount):
    // 12 reply flows x 10 packets each
    assert(r("amplification") == 10.0d && r("replies") == 120L)
  }

  test("open resolvers: direction + rcode + rrtype + whitelist (dns_open_resolvers.py)") {
    val rows = Seq(
      Fx(flow_id = 1, src_ip4 = "10.5.0.1", dst_ip = "198.51.100.9",
        dns_name = "x.example", dns_flags = Some(33152L), dns_crr_type = Some(1),
        dns_rdata = "0x5db8d822"),
      Fx(flow_id = 2, src_ip4 = "10.5.0.1", dst_ip = "198.51.100.9", // rcode 3 → dropped
        dns_name = "x.example", dns_flags = Some(33155L), dns_crr_type = Some(1),
        dns_rdata = "0x5db8d822"),
      Fx(flow_id = 3, src_ip4 = "10.5.0.1", dst_ip = "10.5.0.2", // dst local → dropped
        dns_name = "x.example", dns_flags = Some(33152L), dns_crr_type = Some(1),
        dns_rdata = "0x5db8d822"),
      Fx(flow_id = 4, src_ip4 = "10.5.0.1", dst_ip = "198.51.100.9", // whitelisted
        dns_name = "good.whitelisted.example", dns_flags = Some(33152L),
        dns_crr_type = Some(1), dns_rdata = "0x5db8d822"))
    val out = rowsOf(DnsOpenResolvers(Fx.df(spark, rows: _*),
      "10.5.0.0/16", Some("whitelisted")))
    assert(out.size == 1)
    val r = out.head
    assert(r("resolver_ip") == "10.5.0.1" && r("resolved_data") == "93.184.216.34")
    assert(r("flows") == 1L)
  }

  test("open resolvers: an octet above 255 matches no local network") {
    // split-and-cast parsing reads 10.0.100.300 as 10.0.101.44; netaddr
    // rejects it, so the flow is not a local resolver's answer
    val row = Fx(flow_id = 1, src_ip4 = "10.0.100.300", dst_ip = "198.51.100.9",
      dns_name = "x.example", dns_flags = Some(33152L), dns_crr_type = Some(1),
      dns_rdata = "0x5db8d822")
    assert(rowsOf(DnsOpenResolvers(Fx.df(spark, row), "10.0.101.0/24")).isEmpty)
  }

  test("external resolvers: interval join pairs within tolerance (dns_external_resolvers.py:158-166)") {
    val dns = Seq(Fx(flow_id = 1, protocol = 17, src_ip4 = "10.6.0.1",
      dst_ip = "8.8.8.8", dns_flags = Some(33152L), end_ms = 10000))
    val tcpHit  = Seq(Fx(flow_id = 2, protocol = 6, src_ip4 = "10.6.0.1", start_ms = 12000))
    val tcpMiss = Seq(Fx(flow_id = 3, protocol = 6, src_ip4 = "10.6.0.1", start_ms = 999000))
    val out = rowsOf(DnsExternalResolvers(
      Fx.df(spark, dns ++ tcpHit ++ tcpMiss: _*), toleranceMs = 5000L))
    assert(out.size == 1)
    assert(out.head("client_ip") == "10.6.0.1" && out.head("resolver_ip") == "8.8.8.8")
    assert(out.head("flows") == 1L)
  }

  test("tls classification: dictionary hit + unknown (tls_classification.py)") {
    val dict = Seq(TlsClassification.DictEntry(
      "002f,0035", "desktop", "linux", "openssl", "firefox"))
    val rows = Seq(
      Fx(flow_id = 1, tls_cipher_suites = "0x2f00350000000000"), // → 002f,0035 hit
      Fx(flow_id = 2, tls_cipher_suites = "0x9c00"),             // unknown
      Fx(flow_id = 3, tls_cipher_suites = "0x00000000000000000000000000000000"))
    val out = rowsOf(TlsClassification(spark, Fx.df(spark, rows: _*), dict))
    def v(st: String, k: String) =
      out.find(r => r("stat_type") == st && r("key") == k).map(_("value"))
    assert(v("operating_system", "linux").contains(1L))
    assert(v("operating_system", "Unknown").contains(1L))
    assert(v("browser", "firefox").contains(1L))
    assert(out.map(_("value").asInstanceOf[Long]).sum == 6L) // 2 flows × 3 types
  }

  test("daily profile: hour slots within day (host_daily_profile.py:222-255)") {
    val day0 = 0L
    val rows = Seq(
      Fx(flow_id = 1, src_ip4 = "10.7.0.1", packets = 10, bytes = 100,
        start_ms = day0 + 3600000L * 2 + 5),   // hour 2
      Fx(flow_id = 2, src_ip4 = "10.7.0.1", packets = 20, bytes = 200,
        start_ms = day0 + 3600000L * 2 + 999), // hour 2
      Fx(flow_id = 3, src_ip4 = "10.7.0.1", packets = 30, bytes = 300,
        start_ms = day0 + 3600000L * 23),      // hour 23
      Fx(flow_id = 4, src_ip4 = "10.7.0.1", packets = 40, bytes = 400,
        start_ms = 86400000L + 3600000L))      // next day hour 1
    val out = rowsOf(HostDailyProfile(Fx.df(spark, rows: _*)))
    assert(out.size == 3)
    val slot2 = out.find(r => r("day_start_ms") == 0L && r("hour_slot") == 2).get
    assert(slot2("packets") == 30L && slot2("flows") == 2L)
    assert(out.exists(r => r("day_start_ms") == 86400000L && r("hour_slot") == 1))
  }

  test("pattern finder: filter DSL semantics (pattern_finder.py:53-98)") {
    val df = Fx.df(spark,
      Fx(flow_id = 1, dst_port = 53, packets = 5),
      Fx(flow_id = 2, dst_port = 80, packets = 5),
      Fx(flow_id = 3, dst_port = 53, packets = 50),
      Fx(flow_id = 4, dst_port = 53, packets = 5, dns_name = "x"))
    import PatternFinder._
    // dst_port == 53 AND packets < 10 (values OR-ed, items AND-ed)
    val sel = df.filter(filterExpr(Seq(
      FilterItem("dst_port", "eq", Seq(53, 5353)),
      FilterItem("packets", "lt", Seq(10))))).collect().map(_.getAs[Long]("flow_id")).toSet
    assert(sel == Set(1L, 4L))
    // exists on optional field
    val ex = df.filter(filterExpr(Seq(FilterItem("dns_name", "exists"))))
      .collect().map(_.getAs[Long]("flow_id")).toSet
    assert(ex == Set(4L))
    // nin excludes listed values
    val nin = df.filter(filterExpr(Seq(FilterItem("dst_port", "nin", Seq(80)))))
      .collect().map(_.getAs[Long]("flow_id")).toSet
    assert(nin == Set(1L, 3L, 4L))
    // int = set membership
    val im = df.filter(filterExpr(Seq(FilterItem("packets", "int", Seq(50, 51)))))
      .collect().map(_.getAs[Long]("flow_id")).toSet
    assert(im == Set(3L))
  }

  test("pattern finder: filter DSL ip op and multi-field OR") {
    import PatternFinder._
    val df = Fx.df(spark,
      Fx(flow_id = 1, src_ip4 = "10.1.0.5", dst_ip = "192.0.2.1"),
      Fx(flow_id = 2, src_ip4 = "172.16.0.9", dst_ip = "192.0.2.1"),
      Fx(flow_id = 3, src_ip4 = "172.16.0.9", dst_ip = "10.1.0.7"),
      Fx(flow_id = 4, src_ip4 = null, src_ip6 = "fd00::1", dst_ip = "192.0.2.1"))
    // CIDR membership, fields OR-ed: src OR dst in 10.1.0.0/16
    val hit = df.filter(filterExpr(Seq(
      FilterItem(Seq("src_ip4", "dst_ip"), "ip", Seq("10.1.0.0/16")))))
      .collect().map(_.getAs[Long]("flow_id")).toSet
    assert(hit == Set(1L, 3L))
    // bare address -> /32
    val exact = df.filter(filterExpr(Seq(
      FilterItem("src_ip4", "ip", Seq("172.16.0.9")))))
      .collect().map(_.getAs[Long]("flow_id")).toSet
    assert(exact == Set(2L, 3L))
  }

  test("pattern finder: ip op rejects an octet above 255") {
    import PatternFinder._
    // split-and-cast parsing reads 10.0.100.300 as 10.0.101.44
    val df = Fx.df(spark, Fx(flow_id = 1, src_ip4 = "10.0.100.300", dst_ip = "192.0.2.1"))
    assert(df.filter(filterExpr(Seq(
      FilterItem("src_ip4", "ip", Seq("10.0.101.0/24"))))).isEmpty)
  }

  test("pattern finder: biflow pairing + classification (pattern_finder.py:168-194)") {
    val req = Fx(flow_id = 1, src_ip4 = "10.8.0.1", dst_ip = "192.0.2.9",
      src_port = 40000, dst_port = 53, start_ms = 1000, end_ms = 1100,
      packets = 5, bytes = 500)
    // paired response: swapped endpoints, 200 ms later
    val rsp = Fx(flow_id = 2, src_ip4 = "192.0.2.9", dst_ip = "10.8.0.1",
      src_port = 53, dst_port = 40000, start_ms = 1200, end_ms = 1300,
      packets = 6, bytes = 1000)
    // unpaired: outside tolerance
    val stale = rsp.copy(flow_id = 3, start_ms = 99999, end_ms = 100100)
    val pairs = PatternFinder.biflows(Fx.df(spark, req, rsp, stale), 500L)
    assert(pairs.count() == 1)
    val out = rowsOf(PatternFinder.classify(pairs,
      Seq(PatternFinder.Pattern("dnsish", Seq(100.0, 5.0, 500.0, 6.0, 1000.0))),
      Seq(1.0, 2.0)))
    assert(out.head("closest_pattern") == "dnsish")
    assert(out.head("distance") == 0.0d && out.head("bin") == 0)
  }

  test("pattern report: per-key slot sums == explicit arraySum fold (A12)") {
    import spark.implicits._
    val pats = Seq(
      PatternFinder.Pattern("p0", Seq(100.0, 5.0, 500.0, 6.0, 1000.0)),
      PatternFinder.Pattern("p1", Seq(9999.0, 99.0, 99999.0, 99.0, 99999.0)))
    val cfg = PatternFinder.DistConfig(
      intervals = Seq(0.0, 1.0, 2.0, 4.0), weights = Seq(3L, 2L, 1L, 1L),
      limit = 3L)
    // two pairs on one key: one exactly on p0 (distance 0 -> bin 0), one
    // slightly off; p1 is far away for both (last bin)
    val pairs = Seq(
      ("10.1.0.1", "192.0.2.5", 1000L, 1100L, 5L, 500L, 6L, 1000L),
      ("10.1.0.1", "192.0.2.5", 2000L, 2150L, 6L, 600L, 7L, 1200L))
      .toDF("client_ip", "server_ip", "req_start_ms", "req_end_ms",
        "req_packets", "req_bytes", "rsp_packets", "rsp_bytes")
    val report = rowsOf(PatternFinder.patternReport(pairs, pats, cfg))
    assert(report.size == 1)
    // independent fold: sum the flattened per-pair one-hot vectors with the
    // explicit VectorFunctions.arraySum element-wise fold
    val folded = PatternFinder.patternObservations(pairs, pats, cfg)
      .groupBy("key")
      .agg(aggregate(collect_list(col("dist")),
        array_repeat(lit(0L), 2 * cfg.intervals.size),
        (acc, d) => graft.functions.VectorFunctions.arraySum(acc, d)).as("dist"))
      .collect().head.getSeq[Long](1)
    val (d0, d1) = folded.splitAt(cfg.intervals.size)
    val arr = report.head("data_array")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]].toSeq
    assert(arr.map(_.getString(0)) == Seq("p0", "p1"))
    assert(arr(0).getSeq[Long](1).toSeq == d0.toSeq &&
      arr(1).getSeq[Long](1).toSeq == d1.toSeq)
    // p0 qualifies (left-heavy), p1 does not (all weight in the right half)
    assert(report.head("closest_patterns")
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("p0"))
  }

  private val referenceYaml =
    """configuration:
      |    name: Anomaly Detection
      |    window: 300
      |    slice: 5
      |filter:
      |    - element_names:
      |          - ipfix.sourceIPv4Address
      |          - ipfix.destinationIPv4Address
      |      type: exists
      |    - element_names:
      |          - ipfix.protocolIdentifier
      |      type: int
      |      values:
      |          - 6
      |vectors:
      |    key:
      |        type: biflow
      |        elements:
      |            src_ip: ipfix.sourceIPv4Address
      |            dst_ip: ipfix.destinationIPv4Address
      |            src_port: ipfix.sourceTransportPort
      |            dst_port: ipfix.destinationTransportPort
      |            flow_start: ipfix.flowStartMilliseconds
      |        time_difference: 500
      |    values:
      |        - type: element
      |          element: ipfix.packetDeltaCount
      |        - type: element
      |          element: ipfix.octetDeltaCount
      |        - type: operation
      |          operator: sub
      |          elements:
      |              - ipfix.flowEndMilliseconds
      |              - ipfix.flowStartMilliseconds
      |output:
      |    - name: src_ip
      |      element: ipfix.sourceIPv4Address
      |      type: request
      |    - name: dst_ip
      |      element: ipfix.destinationIPv4Address
      |      type: request
      |distance:
      |    distance_module: biflow_quadratic_form
      |    patterns:
      |        - name: anomaly-1
      |          request: [5, 500, 100]
      |          response: [6, 1000, 100]
      |        - name: anomaly-2
      |          request: [50, 9000, 2000]
      |          response: [60, 12000, 2500]
      |    distribution:
      |        anomaly-1:
      |            intervals: [0, 3, 4, 5, 6, 7]
      |        default:
      |            intervals: [0, 2, 3, 4, 5, 7]
      |            weights: [3, 2, 1, 1, 2, 3]
      |            limit: 2
      |""".stripMargin

  test("S7: YAML loader parses the reference configuration shape") {
    import graft.analytics.PatternConfig
    val cfg = PatternConfig.parse(referenceYaml)
    assert(cfg.name == "Anomaly Detection")
    assert(cfg.windowSec == 300L && cfg.reportIntervalMs == 300000L)
    // wire element names resolve to engine columns
    assert(cfg.filters == Seq(
      PatternFinder.FilterItem(Seq("src_ip4", "dst_ip4"), "exists", Nil),
      PatternFinder.FilterItem(Seq("protocol"), "int", Seq(6L))))
    assert(cfg.biflowKey.get.srcIp == "src_ip4" &&
      cfg.biflowKey.get.flowStart == "start_ms" &&
      cfg.biflowKey.get.toleranceMs == 500L)
    assert(cfg.values.map(_.kind) == Seq("element", "element", "operation"))
    // biflow pattern vector = request ++ response halves
    assert(cfg.patterns.map(_._1) == Seq(
      PatternFinder.Pattern("anomaly-1", Seq(5.0, 500.0, 100.0, 6.0, 1000.0, 100.0)),
      PatternFinder.Pattern("anomaly-2", Seq(50.0, 9000.0, 2000.0, 60.0, 12000.0, 2500.0))))
    // per-pattern interval override with default weight/limit fallback
    assert(cfg.patterns(0)._2 == PatternFinder.DistConfig(
      Seq(0.0, 3.0, 4.0, 5.0, 6.0, 7.0), Seq(3L, 2L, 1L, 1L, 2L, 3L), 2L))
    assert(cfg.patterns(1)._2 == PatternFinder.DistConfig(
      Seq(0.0, 2.0, 3.0, 4.0, 5.0, 7.0), Seq(3L, 2L, 1L, 1L, 2L, 3L), 2L))
  }

  test("S7: unsorted distribution intervals are rejected, not silently re-binned") {
    import graft.analytics.PatternConfig
    val bad = referenceYaml.replace(
      "intervals: [0, 3, 4, 5, 6, 7]", "intervals: [0, 4, 3, 5, 6, 7]")
    val e = intercept[IllegalArgumentException](PatternConfig.parse(bad))
    assert(e.getMessage.contains("ascending"))
  }

  test("S7: YAML-driven pipeline == directly configured pipeline on same flows") {
    import graft.analytics.PatternConfig
    val cfg = PatternConfig.parse(referenceYaml)
    // two pairable biflows on the anomaly-1 shape + one UDP flow the
    // config's protocol filter must drop; the Fx fixture carries the
    // derived dst_ip only, so restore the wire-faithful dst_ip4 the
    // YAML's exists-filter names
    val flows = Fx.df(spark,
      Fx(flow_id = 1, src_ip4 = "10.8.0.1", dst_ip = "192.0.2.9",
        src_port = 40000, dst_port = 53, start_ms = 1000, end_ms = 1100,
        packets = 5, bytes = 500),
      Fx(flow_id = 2, src_ip4 = "192.0.2.9", dst_ip = "10.8.0.1",
        src_port = 53, dst_port = 40000, start_ms = 1200, end_ms = 1300,
        packets = 6, bytes = 1000),
      Fx(flow_id = 3, src_ip4 = "10.8.0.2", dst_ip = "192.0.2.9",
        src_port = 40001, dst_port = 53, start_ms = 5000, end_ms = 5100,
        packets = 5, bytes = 500),
      Fx(flow_id = 4, src_ip4 = "192.0.2.9", dst_ip = "10.8.0.2",
        src_port = 53, dst_port = 40001, start_ms = 5200, end_ms = 5300,
        packets = 6, bytes = 1000),
      // UDP pairable twin of pair 1: filtered out by `int protocol [6]`
      Fx(flow_id = 5, src_ip4 = "10.8.0.3", dst_ip = "192.0.2.9", protocol = 17,
        src_port = 40002, dst_port = 53, start_ms = 9000, end_ms = 9100,
        packets = 5, bytes = 500),
      Fx(flow_id = 6, src_ip4 = "192.0.2.9", dst_ip = "10.8.0.3", protocol = 17,
        src_port = 53, dst_port = 40002, start_ms = 9200, end_ms = 9300,
        packets = 6, bytes = 1000))
      .withColumn("dst_ip4", col("dst_ip"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      rowsOf(df.select(col("src_ip"), col("dst_ip"),
        to_json(col("data_array")).as("da"),
        to_json(col("closest_patterns")).as("cp")))
        .map(r => (r("src_ip"), r("dst_ip"), r("da"), r("cp"))).toSet
    val fromYaml = canon(PatternConfig.batchReport(flows, cfg))
    // the same pipeline configured directly in Scala
    val direct = canon(PatternFinder.patternReportVec(
      PatternFinder.biflows(
        flows.filter(PatternFinder.filterExpr(Seq(
          PatternFinder.FilterItem(Seq("src_ip4", "dst_ip4"), "exists", Nil),
          PatternFinder.FilterItem(Seq("protocol"), "int", Seq(6L))))),
        500L,
        Seq(col("packets").cast("double"), col("bytes").cast("double"),
          (col("end_ms") - col("start_ms")).cast("double"))),
      cfg.patterns, PatternFinder.biflowVector))
    assert(fromYaml == direct)
    assert(fromYaml.nonEmpty)
    // the anomaly-1-shaped TCP pairs report; the UDP twin key must not
    assert(fromYaml.map(t => t._1) == Set("10.8.0.1", "10.8.0.2"))
  }

  test("S7: simple vector key — per-flow report keyed by joined elements") {
    import graft.analytics.PatternConfig
    val yaml =
      """configuration:
        |    name: Simple Detection
        |    window: 60
        |vectors:
        |    key:
        |        type: simple
        |        elements:
        |            - ipfix.sourceIPv4Address
        |            - ipfix.sourceTransportPort
        |    values:
        |        - type: element
        |          element: ipfix.packetDeltaCount
        |        - type: element
        |          element: ipfix.octetDeltaCount
        |distance:
        |    distance_module: simple_quadratic_form
        |    patterns:
        |        - name: p0
        |          vector: [5, 500]
        |    distribution:
        |        default:
        |            intervals: [0, 1, 2, 4]
        |            weights: [2, 1, 1, 2]
        |            limit: 4
        |""".stripMargin
    val cfg = PatternConfig.parse(yaml)
    assert(cfg.keyType == "simple" &&
      cfg.simpleKey == Seq("src_ip4", "src_port"))
    // two on-pattern flows on one key (left = 4 >= limit), one off-pattern
    val flows = Fx.df(spark,
      Fx(flow_id = 1, src_ip4 = "10.6.0.1", src_port = 40000, packets = 5, bytes = 500),
      Fx(flow_id = 2, src_ip4 = "10.6.0.1", src_port = 40000, packets = 5, bytes = 500),
      Fx(flow_id = 3, src_ip4 = "10.6.0.2", src_port = 40001, packets = 999, bytes = 9))
    val out = rowsOf(PatternConfig.batchReport(flows, cfg))
    assert(out.map(_("key")) == Seq("10.6.0.1-40000"))
    val da = out.head("data_array")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
    assert(da.head.getSeq[Long](1).toSeq == Seq(4L, 0L, 0L, 0L))
  }

  test("pattern report: closest_patterns keeps all maximal qualifiers in config order") {
    import spark.implicits._
    val pats = Seq(
      PatternFinder.Pattern("a", Seq(100.0, 5.0, 500.0, 6.0, 1000.0)),
      PatternFinder.Pattern("b", Seq(100.0, 5.0, 500.0, 6.0, 1000.0)))
    val cfg = PatternFinder.DistConfig(
      intervals = Seq(0.0, 1.0, 2.0, 4.0), weights = Seq(2L, 1L, 1L, 2L),
      limit = 2L)
    // identical patterns -> identical distributions -> a tie on the left
    // sum; reference keeps both, configuration order preserved
    val pairs = Seq(("10.1.0.2", "192.0.2.6", 1000L, 1100L, 5L, 500L, 6L, 1000L))
      .toDF("client_ip", "server_ip", "req_start_ms", "req_end_ms",
        "req_packets", "req_bytes", "rsp_packets", "rsp_bytes")
    val report = rowsOf(PatternFinder.patternReport(pairs, pats, cfg))
    assert(report.head("closest_patterns")
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("a", "b"))
  }

  test("ts anomaly: flags the injected spike, not the steady baseline") {
    import spark.implicits._
    // key A: 9/11 alternation (mean 10, sd ~1) with bucket 25 spiked to
    // 200; key B constant (sd = 0 -> the guard excludes it entirely)
    val rows = (0 until 30).flatMap { h =>
      val ts = h * 3600000L
      val va = if (h == 25) 200.0 else if (h % 2 == 0) 9.0 else 11.0
      Seq(("A", ts, va), ("B", ts, 10.0))
    }.toDF("k", "ts_ms", "value")
    val out = rowsOf(TimeSeriesAnomaly(rows, Seq("k"), "ts_ms", "value",
      bucketMs = 3600000L, lookback = 24, minPoints = 12, zThreshold = 2.0))
    assert(out.size == 1)
    assert(out.head("k") == "A" &&
      out.head("bucket_ms") == 25 * 3600000L &&
      out.head("z").asInstanceOf[Double] > 2.0)
    // zero-variance baseline (sd = 0) never divides by zero: bucket 26+
    // of A has the spike in its window, sd > 0, value back at 10 -> below
    // threshold -> exactly one flag total, and B never flags
    assert(!out.exists(_("k") == "B"))
  }
}
