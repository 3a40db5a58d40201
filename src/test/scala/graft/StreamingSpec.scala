package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.analytics.ProtocolStatistics
import graft.streaming.{FlowSource, ReportDedup, StreamingAnalytics}

/** Structured Streaming specs: wire parse, streaming-vs-batch parity
  * (SURVEY.md §5: same input ⇒ windowed streaming result == batch groupBy
  * over the same event-time buckets), and cross-batch report dedup. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def obs(key: String, ms: Long, flows: Long) =
    ReportDedup.Observation(key, new java.sql.Timestamp(ms), flows)
  private def patternObs(key: String, ms: Long, dist: Seq[Long]) =
    ReportDedup.PatternObservation(key, new java.sql.Timestamp(ms), dist)
  /** The ddos state TTL GraftApp ships (one day of event time). */
  private val dayMs = 86400000L
  /** The keyed-state row count after each micro-batch `q` has run. */
  private def stateRowsSeen(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.flatMap(_.stateOperators.headOption).map(_.numRowsTotal).toSeq

  test("FlowSource.parse maps ipfix.* wire JSON to engine columns") {
    val json =
      """{"ipfix.sourceIPv4Address":"10.10.1.5","ipfix.destinationIPv4Address":"192.0.2.7",
        |"ipfix.protocolIdentifier":6,"ipfix.sourceTransportPort":51234,
        |"ipfix.destinationTransportPort":443,"ipfix.packetDeltaCount":12,
        |"ipfix.octetDeltaCount":3480,"ipfix.tcpControlBits":27,
        |"ipfix.flowStartMilliseconds":1502900000000,"ipfix.flowEndMilliseconds":1502900004500}"""
        .stripMargin.replace("\n", "")
    val out = FlowSource.parse(Seq(json).toDF("value")).collect()(0)
    assert(out.getAs[String]("src_ip4") == "10.10.1.5")
    assert(out.getAs[Int]("protocol") == 6)
    assert(out.getAs[Long]("bytes") == 3480L)
    assert(out.getAs[java.sql.Timestamp]("event_time").getTime == 1502900000000L)
  }

  test("streaming protocol stats == batch protocol stats on same input") {
    val flows = (0 until 20).map(i => Fx(flow_id = i, protocol = 6,
        start_ms = 1000L * i, packets = i + 1, bytes = 100L * i)) ++
      (0 until 15).map(i => Fx(flow_id = 100 + i, protocol = 17,
        start_ms = 1000L * i + 30000L, packets = 2, bytes = 50))

    // batch result, 10 s buckets
    val batch = rowsOf(ProtocolStatistics(Fx.df(spark, flows: _*), 10000L))
      .map(r => (r("window_start_ms"), r("protocol"), r("flows"), r("packets"), r("bytes")))
      .toSet

    // streaming over MemoryStream, two micro-batches, complete mode
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val streamed = StreamingAnalytics.protocolStatistics(
      FlowSource.withEventTime(mem.toDF()), "10 seconds")
    val q = streamed.writeStream.format("memory")
      .queryName("proto_parity").outputMode(OutputMode.Complete()).start()
    try {
      val (a, b) = flows.splitAt(12)
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
      val got = spark.table("proto_parity")
        .select(unix_millis(col("window.start")).as("w"), col("protocol"),
          col("flows"), col("packets"), col("bytes"))
        .collect()
        .map(r => (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("hostCardinality: streaming sketches match exact distincts; binaries persist as a layer") {
    implicit val sqlCtx = spark.sqlContext
    val flows = (0 until 60).map(i => Fx(flow_id = i, protocol = 6,
      src_ip4 = s"10.0.0.${i % 3}", dst_ip = s"192.0.2.${i % 17}",
      start_ms = 1000L * i, packets = 1, bytes = 10))
    val mem = MemoryStream[Fx]
    val streamed = StreamingAnalytics.hostCardinality(
      FlowSource.withEventTime(mem.toDF()), window = "1 hour")
    val q = streamed.writeStream.format("memory").queryName("card_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (a, b) = flows.splitAt(25)
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
      val got = spark.table("card_out")
        .select(col("src_ip"), col("peer_est")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // 17 distinct dsts spread over 3 srcs by congruence: exact in the
      // sketch's coupon regime
      val exact = flows.groupBy(_.src_ip4)
        .view.mapValues(_.map(_.dst_ip).distinct.size.toLong).toMap
      assert(got == exact, s"$got vs $exact")
      // the emitted binaries union like any layer (global rollup == exact)
      val layer = spark.table("card_out")
        .select(col("src_ip").as("key"), col("sketch"))
      val global = rowsOf(graft.scale.Sketches.rollup(
          layer, Seq(org.apache.spark.sql.functions.lit(1).as("g"))))
        .head("distinct_est")
      assert(global == flows.map(_.dst_ip).distinct.size.toLong)
    } finally q.stop()
  }

  test("ReportDedup: increment semantics + report throttling (ports_scan.py:109-141)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ReportDedup.Observation]
    val out = ReportDedup(mem.toDS(), reportIntervalMs = 60000L)
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: first sighting reports, quick repeat is throttled
      mem.addData(
        obs("a|b|22", 1000L, 5L),
        obs("a|b|22", 2000L, 3L))
      q.processAllAvailable()
      // batch 2: past the interval → reports the increment since last
      mem.addData(obs("a|b|22", 70000L, 7L))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").as[ReportDedup.Report]
        .collect().sortBy(_.ts)
      assert(rows.length == 2)
      assert(rows(0).flows_total == 5L && rows(0).flows_increment == 5L)
      // second report: total 5+3+7, increment = everything since report 1
      assert(rows(1).flows_total == 15L && rows(1).flows_increment == 10L)
    } finally q.stop()
  }

  test("streaming port-scan pipeline: SYN flows -> keyed state -> increment reports") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.portScanReports(
      FlowSource.withEventTime(mem.toDF()), reportIntervalMs = 60000L)
    val q = out.writeStream.format("memory").queryName("pscan_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // scanner hits 3 targets on port 22 with pure SYNs; one non-SYN noise row
      mem.addData(
        Fx(flow_id = 1, src_ip4 = "10.9.0.1", dst_ip = "192.0.2.1", dst_port = 22,
          tcp_flags = 2L, start_ms = 1000L),
        Fx(flow_id = 2, src_ip4 = "10.9.0.1", dst_ip = "192.0.2.2", dst_port = 22,
          tcp_flags = 2L, start_ms = 2000L),
        Fx(flow_id = 3, src_ip4 = "10.9.0.1", dst_ip = "192.0.2.3", dst_port = 22,
          tcp_flags = 2L, start_ms = 3000L),
        Fx(flow_id = 4, src_ip4 = "10.9.0.1", dst_ip = "192.0.2.4", dst_port = 22,
          tcp_flags = 18L, start_ms = 3500L))
      q.processAllAvailable()
      val rows = spark.table("pscan_out").as[ReportDedup.Report].collect()
      val horiz = rows.filter(_.key == "horizontal|10.9.0.1|22")
      // first sighting reported once (throttled afterward), 3 SYN flows total
      assert(horiz.length == 1 && horiz.head.flows_increment == 1L)
      // vertical keys: one per (src, dst_ip), non-SYN row excluded
      assert(rows.count(_.key.startsWith("vertical|")) == 3)
      // past the report interval: increment picks up the accumulated flows
      mem.addData(
        Fx(flow_id = 5, src_ip4 = "10.9.0.1", dst_ip = "192.0.2.9", dst_port = 22,
          tcp_flags = 2L, start_ms = 70000L))
      q.processAllAvailable()
      val h2 = spark.table("pscan_out").as[ReportDedup.Report].collect()
        .filter(_.key == "horizontal|10.9.0.1|22").sortBy(_.ts)
      assert(h2.length == 2)
      assert(h2(1).flows_total == 4L && h2(1).flows_increment == 3L)
    } finally q.stop()
  }

  test("streaming port-scan: a key idle past 10x the interval is evicted and re-reports from a fresh total") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val q = StreamingAnalytics.portScanReports(FlowSource.withEventTime(mem.toDF()),
        reportIntervalMs = 1000L, watermark = "1 second")
      .writeStream.format("memory").queryName("pscan_evict")
      .outputMode(OutputMode.Append()).start()
    def syn(id: Long, src: String, ms: Long) = Fx(flow_id = id, src_ip4 = src,
      dst_ip = "192.0.2.1", dst_port = 22, tcp_flags = 2L, start_ms = ms)
    try {
      // 10.9.0.1 opens a horizontal and a vertical key at t = 1 s; its
      // second flow, inside the interval, only adds to the total
      mem.addData(syn(1, "10.9.0.1", 1000L), syn(2, "10.9.0.1", 1500L))
      q.processAllAvailable()
      assert(stateRowsSeen(q).last == 2)
      // 10.9.0.2 at t = 100 s: the watermark passes 1.5 s + 10 x 1 s
      mem.addData(syn(3, "10.9.0.2", 100000L))
      q.processAllAvailable()
      // 10.9.0.1's two keys gone, 10.9.0.2's two held
      assert(stateRowsSeen(q).max == 4 && stateRowsSeen(q).last == 2)
      mem.addData(syn(4, "10.9.0.1", 100500L))
      q.processAllAvailable()
      val h = spark.table("pscan_evict").as[ReportDedup.Report].collect()
        .filter(_.key == "horizontal|10.9.0.1|22").sortBy(_.ts)
      // the second report starts from 1, not from the evicted total of 2
      assert(h.map(r => (r.ts, r.flows_total, r.flows_increment)).toSeq ==
        Seq((1000L, 1L, 1L), (100500L, 1L, 1L)))
    } finally q.stop()
  }

  test("ReportDedup state survives a query restart from checkpoint (SURVEY §7.4.4)") {
    // memory sources are not checkpoint-recoverable; use a replayable
    // file source like a real deployment would
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val in = java.nio.file.Files.createTempDirectory("obs").toString
    def addFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    val outDir = java.nio.file.Files.createTempDirectory("rep").toString
    def start() = {
      val obs = spark.readStream
        .schema("key STRING, ts BIGINT, flows BIGINT").json(in)
        .select(col("key"), timestamp_millis(col("ts")).as("event_time"), col("flows"))
        .as[ReportDedup.Observation]
      // parquet sink: the memory sink is not checkpoint-recoverable
      ReportDedup(obs, reportIntervalMs = 60000L)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
    }
    val q1 = start()
    try {
      addFile("b1.json", """{"key":"k","ts":1000,"flows":5}""")
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: totals must carry over (the
    // reference lost its driver dicts on restart — we must not)
    val q2 = start()
    try {
      addFile("b2.json", """{"key":"k","ts":70000,"flows":2}""")
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).as[ReportDedup.Report]
        .collect().sortBy(_.ts)
      assert(rows.map(r => (r.flows_total, r.flows_increment)).toSeq ==
        Seq((5L, 5L), (7L, 2L)))
    } finally q2.stop()
  }

  test("streaming ddos: keyed-state long-horizon profile flags a spike") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val det = StreamingAnalytics.ddosKeyedState(
      FlowSource.withEventTime(mem.toDF()),
      dstPattern = "192\\.168\\..*", ratioIncrease = 5.0, minPackets = 100L,
      stateTtlMs = dayMs)
    val q = det.toDF().writeStream.format("memory").queryName("ddos_keyed")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: benign baseline (10 pkt/flow) -> builds the profile
      mem.addData((0 until 10).map(i =>
        Fx(flow_id = i, src_ip4 = s"10.1.0.$i", dst_ip = "192.168.1.1",
          packets = 10)): _*)
      q.processAllAvailable()
      assert(spark.table("ddos_keyed").count() == 0) // no prior profile yet
      // batch 2: spike (1000 pkt/flow vs baseline 10)
      mem.addData((0 until 5).map(i =>
        Fx(flow_id = 100 + i, src_ip4 = s"10.2.0.$i", dst_ip = "192.168.1.1",
          packets = 1000)): _*)
      q.processAllAvailable()
      val rows = spark.table("ddos_keyed").collect()
      assert(rows.map(_.getAs[String]("dst_ip")).toSeq == Seq("192.168.1.1"))
      assert(rows.head.getAs[Long]("packets") == 5000L)
      assert(rows.head.getAs[Double]("long_ratio") == 10.0d)
      // batch 3: benign again -> ratio vs merged profile, no detection
      mem.addData(Fx(flow_id = 200, src_ip4 = "10.3.0.1",
        dst_ip = "192.168.1.1", packets = 10))
      q.processAllAvailable()
      assert(spark.table("ddos_keyed").count() == 1)
    } finally q.stop()
  }

  test("streaming ddos: state TTL evicts idle profiles (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val q = StreamingAnalytics.ddosKeyedState(FlowSource.withEventTime(mem.toDF()),
        dstPattern = "192\\.168\\..*", ratioIncrease = 5.0, minPackets = 100L,
        stateTtlMs = 60000L, watermark = "10 seconds")
      .toDF().writeStream.format("memory").queryName("ddos_ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      // .5 builds a benign profile at t = 1 s; its TTL ends at 61 s
      mem.addData((0 until 10).map(i => Fx(flow_id = i, src_ip4 = s"10.1.0.$i",
        dst_ip = "192.168.5.5", packets = 10, start_ms = 1000L)): _*)
      q.processAllAvailable()
      assert(stateRowsSeen(q).last == 1)
      // another destination at t = 200 s moves the watermark to 190 s
      mem.addData(Fx(flow_id = 50, dst_ip = "192.168.6.6", start_ms = 200000L))
      q.processAllAvailable()
      assert(stateRowsSeen(q).max == 2 && stateRowsSeen(q).last == 1) // .5 evicted, .6 kept
      // a spike on .5 finds no profile: it only warms up again
      mem.addData((0 until 5).map(i => Fx(flow_id = 100 + i, src_ip4 = s"10.2.0.$i",
        dst_ip = "192.168.5.5", packets = 1000, start_ms = 200500L)): _*)
      q.processAllAvailable()
      assert(spark.table("ddos_ttl").isEmpty)
      assert(stateRowsSeen(q).last == 2)
    } finally q.stop()
  }

  test("streaming reflect_ddos: windowed conditional agg flags amplification") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.reflectDdos(
      FlowSource.withEventTime(mem.toDF()),
      dnsServers = Seq("192.168.0.53"), ratioThreshold = 3.0, minReplies = 2L,
      window = "20 seconds")
    val q = out.writeStream.format("memory").queryName("reflect_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val victim = "10.7.0.1"
      // 2 small requests victim -> server, 3 amplified replies server -> victim
      mem.addData(
        Fx(flow_id = 1, src_ip4 = victim, dst_ip = "192.168.0.53",
          protocol = 17, bytes = 100, start_ms = 1000L),
        Fx(flow_id = 2, src_ip4 = victim, dst_ip = "192.168.0.53",
          protocol = 17, bytes = 100, start_ms = 2000L),
        Fx(flow_id = 3, src_ip4 = "192.168.0.53", dst_ip = victim,
          protocol = 17, bytes = 4000, start_ms = 3000L),
        Fx(flow_id = 4, src_ip4 = "192.168.0.53", dst_ip = victim,
          protocol = 17, bytes = 4000, start_ms = 4000L),
        Fx(flow_id = 5, src_ip4 = "192.168.0.53", dst_ip = victim,
          protocol = 17, bytes = 4000, start_ms = 5000L),
        // non-watched server traffic is ignored
        Fx(flow_id = 6, src_ip4 = "10.7.0.2", dst_ip = "192.168.0.99",
          protocol = 17, bytes = 100, start_ms = 6000L),
        // watermark pusher
        Fx(flow_id = 9, src_ip4 = "10.9.9.9", dst_ip = "192.168.0.53",
          protocol = 17, bytes = 1, start_ms = 900000L))
      q.processAllAvailable()
      val rows = spark.table("reflect_out").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("src_ip") == victim)
      assert(r.getAs[String]("dns_ip") == "192.168.0.53")
      assert(r.getAs[Long]("data_received") == 12000L)
      assert(r.getAs[Long]("data_sent") == 200L)
      assert(r.getAs[Double]("amplification") == 60.0d)
      // reply PACKETS (3 reply flows x 10 packets), not reply flows
      assert(r.getAs[Long]("replies") == 30L)
    } finally q.stop()
  }

  test("streaming ddos keyed state survives a checkpoint restart") {
    val in = java.nio.file.Files.createTempDirectory("ddosin").toString
    val out = java.nio.file.Files.createTempDirectory("ddosout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ddosckpt").toString
    def flowJson(src: String, packets: Int, startMs: Long) =
      s"""{"ipfix.sourceIPv4Address":"$src","ipfix.destinationIPv4Address":"192.168.1.1","ipfix.protocolIdentifier":17,"ipfix.packetDeltaCount":$packets,"ipfix.octetDeltaCount":${packets * 100},"ipfix.flowStartMilliseconds":$startMs,"ipfix.flowEndMilliseconds":${startMs + 100}}"""
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    def start() = StreamingAnalytics.ddosKeyedState(
        FlowSource.files(spark, in),
        dstPattern = "192\\.168\\..*", ratioIncrease = 5.0, minPackets = 100L,
        stateTtlMs = dayMs)
      .toDF().writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append()).start()
    // run 1 builds the benign profile (10 pkt/flow), then dies
    write("f1.json", (0 until 10).map(i => flowJson(s"10.1.0.$i", 10, 1000L * i)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // run 2 sees only the spike — detection needs the recovered profile
    write("f2.json", (0 until 5).map(i => flowJson(s"10.2.0.$i", 1000, 60000L + i)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("dst_ip") == "192.168.1.1")
      assert(rows.head.getAs[Long]("packets") == 5000L)
      assert(rows.head.getAs[Double]("long_ratio") == 10.0d)
    } finally q2.stop()
  }

  test("streaming tls classification: broadcast dict join + windowed fanout") {
    implicit val sqlCtx = spark.sqlContext
    val dict = Seq(graft.analytics.TlsClassification.DictEntry(
      "002f,0035", "dev0", "os0", "app0", "br0"))
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.tlsClassification(
      FlowSource.withEventTime(mem.toDF()), dict, window = "60 seconds")
    val q = out.writeStream.format("memory").queryName("tls_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        // known suites (wire order byte-swapped: 2f00 3500 -> 002f,0035)
        Fx(flow_id = 1, tls_cipher_suites = "0x2f003500", start_ms = 10000L),
        // unknown suites
        Fx(flow_id = 2, tls_cipher_suites = "0xabcd1234", start_ms = 11000L),
        // watermark pusher
        Fx(flow_id = 9, tls_cipher_suites = "0x2f003500", start_ms = 500000L))
      q.processAllAvailable()
      val rows = spark.table("tls_out")
        .select("stat_type", "key", "value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("operating_system", "os0", 1L)))
      assert(rows.contains(("browser", "Unknown", 1L)))
      assert(rows.contains(("application", "app0", 1L)))
    } finally q.stop()
  }

  test("streaming ssh auth: band-filtered candidates report through dedup state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.sshAuthReports(FlowSource.withEventTime(mem.toDF()))
    val q = out.writeStream.format("memory").queryName("ssh_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        // in-band brute-force candidate
        Fx(flow_id = 1, src_ip4 = "10.5.0.1", dst_ip = "192.0.2.7", dst_port = 22,
          src_port = 40000, packets = 15, bytes = 2000, start_ms = 1000L,
          end_ms = 3000L),
        // out of band: too many packets
        Fx(flow_id = 2, src_ip4 = "10.5.0.2", dst_ip = "192.0.2.7", dst_port = 22,
          src_port = 40001, packets = 99, bytes = 2000, start_ms = 1000L,
          end_ms = 3000L))
      q.processAllAvailable()
      val keys = spark.table("ssh_out").as[ReportDedup.Report]
        .collect().map(_.key).toSet
      assert(keys == Set("10.5.0.1|192.0.2.7"))
    } finally q.stop()
  }

  test("streaming dns statistics: windowed fanout counts match batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.dnsStatistics(
      FlowSource.withEventTime(mem.toDF()), window = "60 seconds")
    val q = out.writeStream.format("memory").queryName("dnsstat_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Fx(flow_id = 1, dns_name = "a.example", dns_qtype = Some(1),
          dns_flags = Some(256L), start_ms = 10000L),
        Fx(flow_id = 2, dns_name = "a.example", dns_qtype = Some(1),
          dns_flags = Some(256L), start_ms = 20000L),
        // watermark pusher (non-DNS contribution-free far-future flow)
        Fx(flow_id = 9, dns_name = "z.example", dns_qtype = Some(1),
          dns_flags = Some(256L), start_ms = 500000L))
      q.processAllAvailable()
      val rows = spark.table("dnsstat_out")
        .select("stat_type", "key", "value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("queried_domain", "a.example", 2L)))
      assert(rows.contains(("qtype", "A", 2L)))
    } finally q.stop()
  }

  test("pattern report state: distribution carry-over across reports (pattern_finder.py:280-331)") {
    implicit val sqlCtx = spark.sqlContext
    // 1 pattern × 4 bins, mid=2, limit=2: left = bins 0-1, right = bins 2-3
    val mem = MemoryStream[ReportDedup.PatternObservation]
    val out = ReportDedup.patterns(mem.toDS(), reportIntervalMs = 60000L,
      nBins = 4, mid = 2, limit = 2L)
    val q = out.writeStream.format("memory").queryName("pat_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: the first sighting only opens the throttle window — its
      // evidence accumulates but is NOT an immediate report boundary
      mem.addData(
        patternObs("a-b", 1000L, Seq(2L, 0L, 0L, 0L)),
        patternObs("a-b", 2000L, Seq(0L, 1L, 0L, 0L)))
      q.processAllAvailable()
      assert(spark.table("pat_out").isEmpty)
      // batch 2: past the interval -> report = full accumulated window
      // (including the first observation's evidence)
      mem.addData(patternObs("a-b", 70000L, Seq(2L, 0L, 0L, 0L)))
      q.processAllAvailable()
      // batch 3: a below-limit boundary (left=1 < limit) must KEEP its
      // window — the next boundary reports the accumulated two singles
      mem.addData(patternObs("a-b", 140000L, Seq(1L, 0L, 0L, 0L)))
      q.processAllAvailable()
      mem.addData(patternObs("a-b", 210000L, Seq(1L, 0L, 0L, 0L)))
      q.processAllAvailable()
      val rows = spark.table("pat_out").as[ReportDedup.PatternReport]
        .collect().sortBy(_.ts)
      assert(rows.length == 2)
      assert(rows(0).dist == Seq(4L, 1L, 0L, 0L))
      // second report: carried [4,1,0,0] + kept window ([1,0,0,0]+[1,0,0,0])
      // — element-wise sum_with_previous_distributions over BOTH slices
      assert(rows(1).dist == Seq(6L, 1L, 0L, 0L))
      // right-heavy key never passes the anomaly filter -> never reported,
      // not even at its report boundary
      mem.addData(patternObs("c-d", 220000L, Seq(0L, 0L, 0L, 9L)))
      q.processAllAvailable()
      mem.addData(patternObs("c-d", 290000L, Seq(0L, 0L, 0L, 9L)))
      q.processAllAvailable()
      assert(!spark.table("pat_out").as[ReportDedup.PatternReport]
        .collect().exists(_.key == "c-d"))
    } finally q.stop()
  }

  test("streaming unigram NLL == batch scorer on the same docs (stream-static LM join)") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((100L, "aa bb cc dd aa bb cc dd"), (101L, "aa bb ee"))
      .toDF("doc_id", "text")
    val batchDocs = Seq((1L, "aa bb cc"), (2L, "zz aa qq"), (3L, "zz zz"))
      .toDF("doc_id", "text")
    val expected = graft.pipeline.Curation.unigramNll(batchDocs, ref)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = graft.pipeline.Curation.unigramNllStream(
      mem.toDF().toDF("doc_id", "text", "event_time"), ref,
      watermark = "10 seconds", windowLen = "1 minute")
    val q = out.writeStream.format("memory").queryName("nll_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = new java.sql.Timestamp(60000L)
      mem.addData((1L, "aa bb cc", t0), (2L, "zz aa qq", t0),
        (3L, "zz zz", t0))
      q.processAllAvailable()
      // advance the watermark past the first window so append emits
      mem.addData((99L, "aa", new java.sql.Timestamp(600000L)))
      q.processAllAvailable()
      val got = spark.table("nll_stream")
        .filter(col("doc_id") < 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("RocksDB state store: keyed dedup state runs under the RocksDB provider") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[ReportDedup.Observation]
      val out = ReportDedup(mem.toDS(), reportIntervalMs = 60000L)
      val q = out.writeStream.format("memory").queryName("rocks_out")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(obs("k1", 1000L, 5L),
          obs("k1", 2000L, 3L))
        q.processAllAvailable()
        mem.addData(obs("k1", 70000L, 2L))
        q.processAllAvailable()
        // same increment semantics as under the default provider
        val rows = spark.table("rocks_out").as[ReportDedup.Report]
          .collect().sortBy(_.ts)
        assert(rows.map(r => (r.flows_total, r.flows_increment)).toSeq
          == Seq((5L, 5L), (10L, 5L)))
        // and the state really lives in RocksDB: provider-specific metrics
        // appear on the state operator progress
        assertRocksDbMetrics(q)
      } finally q.stop()
    }
  }

  /** Run `body` with streaming state on the RocksDB provider (off-heap,
    * changelog checkpointing), restoring the default (HDFS-backed heap)
    * provider after — the 100 TB posture for keyed state that outgrows
    * executor heaps (COVERAGE §2.6). Applies to queries started in
    * `body`. */
  private def withRocksDb[A](body: => A): A =
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      body
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }

  private def assertRocksDbMetrics(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val metrics = q.lastProgress.stateOperators(0).customMetrics
    assert(scala.jdk.CollectionConverters.SetHasAsScala(metrics.keySet)
      .asScala.exists(_.startsWith("rocksdb")),
      s"no rocksdb metrics on ${q.lastProgress.stateOperators(0).operatorName}")
  }

  test("RocksDB state store: ddos keyed-state profile parity under the RocksDB provider") {
    // same scenario as the default-provider test above — the provider
    // switch must not change mapGroupsWithState semantics
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[Fx]
      val det = StreamingAnalytics.ddosKeyedState(
        FlowSource.withEventTime(mem.toDF()),
        dstPattern = "192\\.168\\..*", ratioIncrease = 5.0, minPackets = 100L,
        stateTtlMs = dayMs)
      val q = det.toDF().writeStream.format("memory").queryName("ddos_rocks")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData((0 until 10).map(i =>
          Fx(flow_id = i, src_ip4 = s"10.1.0.$i", dst_ip = "192.168.1.1",
            packets = 10)): _*)
        q.processAllAvailable()
        assert(spark.table("ddos_rocks").count() == 0)
        mem.addData((0 until 5).map(i =>
          Fx(flow_id = 100 + i, src_ip4 = s"10.2.0.$i", dst_ip = "192.168.1.1",
            packets = 1000)): _*)
        q.processAllAvailable()
        val rows = spark.table("ddos_rocks").collect()
        assert(rows.map(_.getAs[String]("dst_ip")).toSeq == Seq("192.168.1.1"))
        assert(rows.head.getAs[Long]("packets") == 5000L)
        assert(rows.head.getAs[Double]("long_ratio") == 10.0d)
        assertRocksDbMetrics(q)
      } finally q.stop()
    }
  }

  test("RocksDB state store: watermark-evicting dedup parity under the RocksDB provider") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val docs = mem.toDF().toDF("doc_id", "text", "event_time")
      val out = graft.pipeline.TextPipeline.dedupStreaming(docs)
      val q = out.writeStream.format("memory").queryName("dedup_rocks")
        .outputMode(OutputMode.Append()).start()
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      try {
        mem.addData((1L, "alpha", ts(10)), (2L, "beta", ts(11)),
          (3L, "alpha", ts(12)))
        q.processAllAvailable()
        mem.addData((4L, "alpha", ts(20)), (5L, "gamma", ts(21)))
        q.processAllAvailable()
        val ids = spark.table("dedup_rocks").collect()
          .map(_.getAs[Long]("doc_id")).toSet
        assert(ids == Set(1L, 2L, 5L)) // cross-batch first-seen semantics
        assertRocksDbMetrics(q)
      } finally q.stop()
    }
  }

  test("RocksDB state store: funnel tombstone state parity under the RocksDB provider") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Funnel
    withRocksDb {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val events = mem.toDF().toDF("user_id", "event_type", "event_time")
      val q = Funnel.stream(events, Seq("view", "click"), horizonMs = 1000L,
          watermark = "10 seconds", oncePerUser = true)
        .writeStream.format("memory").queryName("funnel_rocks")
        .outputMode(OutputMode.Append()).start()
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      try {
        mem.addData((1L, "view", ts(1000L)), (1L, "click", ts(2000L)))
        q.processAllAvailable()
        mem.addData((8L, "view", ts(500000L)))
        q.processAllAvailable()
        mem.addData((8L, "click", ts(500100L)))
        q.processAllAvailable()
        // the SAME user reappears: the tombstone (held in RocksDB)
        // swallows the new session
        mem.addData((1L, "view", ts(600000L)), (1L, "click", ts(600500L)))
        q.processAllAvailable()
        mem.addData((9L, "view", ts(1200000L)))
        q.processAllAvailable()
        val got = spark.table("funnel_rocks").collect()
          .filter(_.getLong(0) == 1L)
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        assert(got == Set((1L, 0, 1000L), (1L, 1, 2000L)), got)
        assertRocksDbMetrics(q)
      } finally q.stop()
    }
  }

  test("RocksDB + changelog: kill-and-resume mid-stream is exactly-once across the boundary") {
    // the remaining stateful recovery gap after r15's output-parity pins:
    // stop a query BETWEEN batches under the RocksDB provider WITH
    // changelog checkpointing, restart from the checkpoint, and assert
    // the carried totals and exactly-once emission across the boundary —
    // the crash-recovery path a 100 TB deployment actually exercises
    // (changelog files, not full snapshot uploads, per commit)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_rocks").toString
    val in = java.nio.file.Files.createTempDirectory("obs_rocks").toString
    def addFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    val outDir = java.nio.file.Files.createTempDirectory("rep_rocks").toString
    withRocksDb {
      def start() = {
        val obs = spark.readStream
          .schema("key STRING, ts BIGINT, flows BIGINT").json(in)
          .select(col("key"), timestamp_millis(col("ts")).as("event_time"), col("flows"))
          .as[ReportDedup.Observation]
        ReportDedup(obs, reportIntervalMs = 60000L)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
      }
      val q1 = start()
      try {
        addFile("b1.json", """{"key":"k","ts":1000,"flows":5}""")
        q1.processAllAvailable()
        assertRocksDbMetrics(q1)
      } finally q1.stop() // the "crash": stopped between batches
      // changelog checkpointing really engaged: per-commit .changelog
      // files exist under the state dir (full-snapshot mode writes
      // only .zip snapshots)
      // Files.walk holds directory handles until closed — Using, not a
      // bare count(), so the suite doesn't leak fds per run
      val changelogs = scala.util.Using.resource(java.nio.file.Files.walk(
          java.nio.file.Paths.get(ckpt, "state"))) {
        _.filter(_.getFileName.toString.endsWith(".changelog")).count()
      }
      assert(changelogs > 0, "no .changelog files — changelog mode was off")
      val q2 = start()
      try {
        addFile("b2.json", """{"key":"k","ts":70000,"flows":2}""")
        q2.processAllAvailable()
        assertRocksDbMetrics(q2)
        // totals carried over the restart, each report emitted ONCE
        val rows = spark.read.parquet(outDir).as[ReportDedup.Report]
          .collect().sortBy(_.ts)
        assert(rows.map(r => (r.flows_total, r.flows_increment)).toSeq ==
          Seq((5L, 5L), (7L, 2L)))
      } finally q2.stop()
    }
  }

  test("streaming pattern_finder end-to-end: biflow join -> one-hot bins -> carried report") {
    implicit val sqlCtx = spark.sqlContext
    val pats = Seq(graft.analytics.PatternFinder.Pattern(
      "p0", Seq(1000.0, 10.0, 1000.0, 10.0, 1000.0)))
    val cfg = graft.analytics.PatternFinder.DistConfig(
      intervals = Seq(0.0, 1.0, 2.0, 4.0), weights = Seq(2L, 1L, 1L, 2L),
      limit = 2L)
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.patternFinderReports(
      FlowSource.withEventTime(mem.toDF()), pats, cfg,
      reportIntervalMs = 60000L)
    val q = out.writeStream.format("memory").queryName("pf_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // two request/response biflows of the same key, features exactly on
      // the pattern -> distance 0 -> bin 0 (weight 2). The FIRST pair only
      // opens the key's throttle window; the second, past the 60 s report
      // interval, is the boundary that reports the accumulated window.
      mem.addData(
        Fx(flow_id = 1, src_ip4 = "10.0.0.1", dst_ip = "192.0.2.1",
          src_port = 40000L, dst_port = 80, packets = 10, bytes = 1000,
          start_ms = 10000L, end_ms = 11000L),
        Fx(flow_id = 2, src_ip4 = "192.0.2.1", dst_ip = "10.0.0.1",
          src_port = 80L, dst_port = 40000, packets = 10, bytes = 1000,
          start_ms = 10100L, end_ms = 11100L),
        Fx(flow_id = 3, src_ip4 = "10.0.0.1", dst_ip = "192.0.2.1",
          src_port = 40001L, dst_port = 80, packets = 10, bytes = 1000,
          start_ms = 80000L, end_ms = 81000L),
        Fx(flow_id = 4, src_ip4 = "192.0.2.1", dst_ip = "10.0.0.1",
          src_port = 80L, dst_port = 40001, packets = 10, bytes = 1000,
          start_ms = 80100L, end_ms = 81100L),
        // watermark pushers on both join sides (far future, unpaired key)
        Fx(flow_id = 8, src_ip4 = "10.9.9.9", dst_ip = "192.0.2.9",
          src_port = 50000L, dst_port = 81, start_ms = 900000L),
        Fx(flow_id = 9, src_ip4 = "192.0.2.9", dst_ip = "10.9.9.9",
          src_port = 81L, dst_port = 50000, start_ms = 900100L))
      q.processAllAvailable()
      val rows = spark.table("pf_stream").as[ReportDedup.PatternReport].collect()
      val hit = rows.filter(_.key == "10.0.0.1-192.0.2.1")
      assert(hit.length == 1)
      // both pairs' one-hot bins accumulate into the single report
      assert(hit.head.dist == Seq(4L, 0L, 0L, 0L))
    } finally q.stop()
  }

  test("streaming top_n_host_stats: windowed counts match batch semantics (rank is read-side)") {
    implicit val sqlCtx = spark.sqlContext
    val flows = Seq(
      Fx(flow_id = 1, src_ip4 = "10.3.0.1", dst_ip = "192.0.2.1", dst_port = 80,
        http_host = "a.example", start_ms = 1000L),
      Fx(flow_id = 2, src_ip4 = "10.3.0.1", dst_ip = "192.0.2.1", dst_port = 80,
        start_ms = 2000L),
      Fx(flow_id = 3, src_ip4 = "10.3.0.1", dst_ip = "192.0.2.2", dst_port = 443,
        start_ms = 3000L))
    // batch counts (the pre-rank aggregation of TopNHostStats)
    val batch = rowsOf(graft.analytics.TopNHostStats(Fx.df(spark, flows: _*), n = 100)
      .select("src_ip", "stat_type", "key", "flows"))
      .map(r => (r("src_ip"), r("stat_type"), r("key"), r("flows"))).toSet
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.topNHostStats(
      FlowSource.withEventTime(mem.toDF()), window = "10 seconds")
    val q = out.writeStream.format("memory").queryName("topn_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(flows: _*)
      // watermark pusher outside the asserted window
      mem.addData(Fx(flow_id = 9, src_ip4 = "10.9.9.9", dst_ip = "192.0.2.9",
        dst_port = 9, start_ms = 500000L))
      q.processAllAvailable()
      val got = spark.table("topn_out")
        .filter(unix_millis(col("window.start")) === 0L)
        .select("src_ip", "stat_type", "key", "flows").collect()
        .map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
      assert(got == batch)
      // the read-side rank cut over the stored counts reproduces the
      // batch top-N rows (T1 split documented on the builder)
      val ranked = spark.table("topn_out")
        .filter(unix_millis(col("window.start")) === 0L)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("src_ip", "stat_type")
            .orderBy(col("flows").desc, col("key").asc)))
        .filter(col("rank") === 1)
      assert(ranked.filter(col("stat_type") === "dst_port").collect()
        .map(_.getAs[String]("key")).toSeq == Seq("80"))
    } finally q.stop()
  }

  test("streaming funnel: event-time finalization matches the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Funnel
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_type", "event_time")
    val steps = Seq("view", "click", "purchase")
    val q = Funnel.stream(events, steps, horizonMs = 1000L,
        watermark = "10 seconds")
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append()).start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val batch1 = Seq(
      (1L, "view", 1000L), (1L, "click", 2000L), (1L, "purchase", 3000L),
      (2L, "view", 1000L), (2L, "purchase", 1500L), (2L, "click", 2000L),
      (3L, "click", 2000L))
    val late3 = (3L, "view", 1200L) // out-of-order, inside the watermark
    try {
      mem.addData(batch1.map { case (u, t, m) => (u, t, ts(m)) }: _*)
      q.processAllAvailable()
      mem.addData((late3._1, late3._2, ts(late3._3)))
      q.processAllAvailable()
      // two more batches: first lifts the watermark past every horizon,
      // second triggers the timed-out finalizations under it
      mem.addData((9L, "view", ts(500000L)))
      q.processAllAvailable()
      mem.addData((9L, "click", ts(900000L)))
      q.processAllAvailable()
      val got = spark.table("funnel_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // batch parity over the same finalized users' events
      import spark.implicits._
      val expected = Funnel.stepTimes(
        (batch1 :+ late3).toDF("user_id", "event_type", "ts_ms"), steps)
        .collect().flatMap(r => steps.indices.flatMap(i =>
          if (r.isNullAt(i + 1)) None
          else Some((r.getLong(0), i, r.getLong(i + 1))))).toSet
      assert(got == expected, s"got $got expected $expected")
      // the order-violating purchase (u2 @1500 before click) not counted
      assert(!got.exists(s => s._1 == 2L && s._2 == 2))
    } finally q.stop()
  }

  test("streaming funnel: per-quiet-period sessions — a reappearing user emits again") {
    // The documented contract: emission is exactly-once per user PER
    // QUIET PERIOD, not per all-time user — a user returning after
    // horizon+watermark of silence starts a FRESH funnel session whose
    // chain resolves from the new session's events only (state is
    // watermark-bounded; no forever tombstone).
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Funnel
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_type", "event_time")
    val steps = Seq("view", "click")
    val q = Funnel.stream(events, steps, horizonMs = 1000L,
        watermark = "10 seconds")
      .writeStream.format("memory").queryName("funnel_sessions")
      .outputMode(OutputMode.Append()).start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    try {
      // session 1: full view->click chain
      mem.addData((1L, "view", ts(1000L)), (1L, "click", ts(2000L)))
      q.processAllAvailable()
      // advance the watermark far past user 1's horizon -> finalize
      mem.addData((8L, "view", ts(500000L)))
      q.processAllAvailable()
      mem.addData((8L, "click", ts(500100L)))
      q.processAllAvailable()
      val s1 = spark.table("funnel_sessions").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(s1 == Set((1L, 0, 1000L), (1L, 1, 2000L)), s1)
      // session 2: the SAME user reappears long after — only a view
      mem.addData((1L, "view", ts(600000L)))
      q.processAllAvailable()
      mem.addData((9L, "view", ts(1200000L)))
      q.processAllAvailable()
      mem.addData((9L, "click", ts(1300000L)))
      q.processAllAvailable()
      val s2 = spark.table("funnel_sessions").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // user 1 emitted AGAIN (new session), resolved from the new
      // session's events only: step 0 at its new time, no click carried
      // over from session 1
      assert(s2.contains((1L, 0, 600000L)), s2)
      assert(!s2.exists(r => r._1 == 1L && r._2 == 1 && r._3 > 2000L), s2)
    } finally q.stop()
  }

  test("streaming funnel oncePerUser: a reappearing user never emits again") {
    // The all-time dashboard contract behind the flag: after a user's
    // funnel resolves, an emitted tombstone replaces the session state,
    // so a fresh session after ANY quiet period is swallowed — the
    // exact mirror of the session-mode test above.
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Funnel
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_type", "event_time")
    val steps = Seq("view", "click")
    val q = Funnel.stream(events, steps, horizonMs = 1000L,
        watermark = "10 seconds", oncePerUser = true)
      .writeStream.format("memory").queryName("funnel_once")
      .outputMode(OutputMode.Append()).start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    try {
      // session 1: full view->click chain, finalized by watermark
      mem.addData((1L, "view", ts(1000L)), (1L, "click", ts(2000L)))
      q.processAllAvailable()
      mem.addData((8L, "view", ts(500000L)))
      q.processAllAvailable()
      mem.addData((8L, "click", ts(500100L)))
      q.processAllAvailable()
      val s1 = spark.table("funnel_once").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(s1 == Set((1L, 0, 1000L), (1L, 1, 2000L)), s1)
      // the SAME user reappears with a full chain long after; advance
      // the watermark far enough that session mode WOULD re-finalize
      mem.addData((1L, "view", ts(600000L)), (1L, "click", ts(600500L)))
      q.processAllAvailable()
      mem.addData((9L, "view", ts(1200000L)))
      q.processAllAvailable()
      mem.addData((9L, "click", ts(1300000L)))
      q.processAllAvailable()
      // ...and a THIRD reappearance after that, to prove the tombstone
      // survived the second session's swallowed events too
      mem.addData((1L, "view", ts(1400000L)))
      q.processAllAvailable()
      mem.addData((9L, "view", ts(2000000L)))
      q.processAllAvailable()
      val s2 = spark.table("funnel_once").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // user 1's only rows remain the first session's two steps
      assert(s2.filter(_._1 == 1L) == Set((1L, 0, 1000L), (1L, 1, 2000L)), s2)
    } finally q.stop()
  }

  test("streaming funnel tombstone TTL: swallowed within the TTL, forgotten after it") {
    // The r14 ADVICE knob: oncePerUser holds tombstones forever (state
    // grows with the all-time user dimension). With tombstoneTtlMs set,
    // a resolved user is still swallowed while the watermark sits inside
    // maxTs+horizon+ttl of their last activity, but a user quiet for
    // the FULL TTL is forgotten — bounded state, explicitly weakened to
    // once-per-TTL-window.
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Funnel
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_type", "event_time")
    val steps = Seq("view", "click")
    val q = Funnel.stream(events, steps, horizonMs = 1000L,
        watermark = "10 seconds", oncePerUser = true,
        tombstoneTtlMs = Some(1000000L))
      .writeStream.format("memory").queryName("funnel_ttl")
      .outputMode(OutputMode.Append()).start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def rowsFor(u: Long) = spark.table("funnel_ttl").collect()
      .filter(_.getLong(0) == u)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    try {
      // session 1 resolves once the watermark passes its horizon
      mem.addData((1L, "view", ts(1000L)), (1L, "click", ts(2000L)))
      q.processAllAvailable()
      mem.addData((8L, "view", ts(50000L)))
      q.processAllAvailable()
      mem.addData((8L, "click", ts(50100L)))
      q.processAllAvailable()
      assert(rowsFor(1L).toSet == Set((1L, 0, 1000L), (1L, 1, 2000L)))
      // reappearance WITHIN the TTL window: swallowed (and re-arms)
      mem.addData((1L, "view", ts(200000L)), (1L, "click", ts(201000L)))
      q.processAllAvailable()
      mem.addData((9L, "view", ts(900000L)))
      q.processAllAvailable()
      mem.addData((9L, "click", ts(901000L)))
      q.processAllAvailable()
      assert(rowsFor(1L).toSet == Set((1L, 0, 1000L), (1L, 1, 2000L)))
      // watermark sails a full TTL past user 1's last activity
      // (201000 + 1000 + 1000000 = 1202000 << 2990000): tombstone drops
      mem.addData((10L, "view", ts(3000000L)))
      q.processAllAvailable()
      mem.addData((10L, "click", ts(3001000L)))
      q.processAllAvailable()
      // a user quiet past the TTL is forgotten -> a fresh session EMITS
      mem.addData((1L, "view", ts(3100000L)), (1L, "click", ts(3101000L)))
      q.processAllAvailable()
      mem.addData((11L, "view", ts(5000000L)))
      q.processAllAvailable()
      mem.addData((11L, "click", ts(5001000L)))
      q.processAllAvailable()
      val got = rowsFor(1L)
      assert(got.toSet == Set((1L, 0, 1000L), (1L, 1, 2000L),
        (1L, 0, 3100000L), (1L, 1, 3101000L)), got)
      assert(got.size == 4) // first session emitted exactly once
    } finally q.stop()
  }

  test("streaming funnel buffers survive a checkpoint restart") {
    import graft.queries.Funnel
    val ckpt = java.nio.file.Files.createTempDirectory("fnckpt").toString
    val in = java.nio.file.Files.createTempDirectory("fnin").toString
    val outDir = java.nio.file.Files.createTempDirectory("fnout").toString
    def addFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    def start() = {
      val events = spark.readStream
        .schema("user_id BIGINT, event_type STRING, ts BIGINT").json(in)
        .withColumn("event_time",
          org.apache.spark.sql.functions.timestamp_millis(col("ts")))
      Funnel.stream(events, Seq("view", "click"), horizonMs = 1000L,
          watermark = "10 seconds")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
    }
    val q1 = start()
    try {
      addFile("b1.json", """{"user_id":1,"event_type":"view","ts":1000}""")
      q1.processAllAvailable()
    } finally q1.stop()
    // the click arrives AFTER the restart: the buffered view must have
    // survived the checkpoint for the chain to resolve
    val q2 = start()
    try {
      addFile("b2.json", """{"user_id":1,"event_type":"click","ts":2000}""")
      q2.processAllAvailable()
      addFile("b3.json", """{"user_id":9,"event_type":"view","ts":500000}""")
      q2.processAllAvailable()
      addFile("b4.json", """{"user_id":9,"event_type":"click","ts":900000}""")
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 0, 1000L), (1L, 1, 2000L)), rows)
    } finally q2.stop()
  }

  test("streaming dedup keeps first-seen doc per digest across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val out = graft.pipeline.TextPipeline.dedupStreaming(docs)
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      mem.addData((1L, "alpha", ts(10)), (2L, "beta", ts(11)), (3L, "alpha", ts(12)))
      q.processAllAvailable()
      mem.addData((4L, "alpha", ts(20)), (5L, "gamma", ts(21)))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      // duplicates of "alpha" (ids 3, 4) dropped, including across
      // batches: within the horizon, the batch operator's survivors
      assert(ids == Set(1L, 2L, 5L))
      val batch = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, "alpha"),
        (5L, "gamma")).toDF("doc_id", "text")
      assert(graft.pipeline.TextPipeline.dedupExactByHash(batch).collect()
        .map(_.getAs[Long]("doc_id")).toSet == ids)
      // bounded state: the operator is the watermark-evicting one
      assert(q.lastProgress.stateOperators.exists(
        _.operatorName == "dedupeWithinWatermark"),
        q.lastProgress.stateOperators.map(_.operatorName).toSeq)
      // push the watermark far past alpha's horizon (default 1 h), then
      // send alpha again: its key was EVICTED, so it re-emits — the
      // proof state does not grow with corpus lifetime (plain
      // dropDuplicates would still be holding the digest and drop it)
      mem.addData((6L, "mover", ts(100000)))
      q.processAllAvailable()
      mem.addData((7L, "alpha", ts(99999)))
      q.processAllAvailable()
      val after = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(after == Set(1L, 2L, 5L, 6L, 7L), after)
    } finally q.stop()
  }

  test("idempotent batch sink: replayed and half-written batches never duplicate") {
    import graft.streaming.ResultSink
    val dir = java.nio.file.Files.createTempDirectory("idem_sink").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(ResultSink.writeBatchIdempotent(b0, 0L, dir))
    // restart replay delivers batch 0 again (possibly recomputed
    // differently) — the commit marker must make it a no-op
    val replay = Seq((1L, "a"), (2L, "b"), (99L, "dup")).toDF("id", "v")
    assert(!ResultSink.writeBatchIdempotent(replay, 0L, dir))
    assert(spark.read.parquet(dir).count() == 2)
    // a crash AFTER data, BEFORE marker: next attempt overwrites whole
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_committed_1"), false)
    val b1 = Seq((3L, "c")).toDF("id", "v")
    b1.write.mode("overwrite").parquet(s"$dir/batch_id=1") // torn write
    assert(ResultSink.writeBatchIdempotent(b1, 1L, dir))
    val all = spark.read.parquet(dir)
    assert(all.count() == 3)
    assert(all.filter(col("batch_id") === 1).count() == 1)

    // readCommitted: a torn batch (data, no marker) is INVISIBLE to
    // readers until its marker lands — every read is exactly-once, not
    // just reads after recovery
    val b2 = Seq((4L, "d"), (5L, "e")).toDF("id", "v")
    b2.write.mode("overwrite").parquet(s"$dir/batch_id=2") // torn write
    assert(spark.read.parquet(dir).count() == 5) // bare read sees the tear
    val committed = ResultSink.readCommitted(spark, dir)
    assert(committed.count() == 3, "torn batch leaked into readCommitted")
    assert(committed.columns.contains("batch_id"))
    assert(ResultSink.writeBatchIdempotent(b2, 2L, dir)) // marker lands
    assert(ResultSink.readCommitted(spark, dir).count() == 5)
    // empty / nonexistent store degrades to an empty frame
    assert(ResultSink.readCommitted(spark, s"$dir/_nope").count() == 0)

    // streaming face: MemoryStream through parquetIdempotent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sdir = java.nio.file.Files.createTempDirectory("idem_stream").toString
    val q = ResultSink.parquetIdempotent(mem.toDF().toDF("id", "v"), sdir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("idem_ckpt").toString)
      .start()
    try {
      mem.addData((10L, "x"), (11L, "y")); q.processAllAvailable()
      mem.addData((12L, "z")); q.processAllAvailable()
      val got = spark.read.parquet(sdir).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(10L, 11L, 12L))
    } finally q.stop()
  }

  test("streaming near-dup compaction: foreachBatch ingest equals batch candidates") {
    // near-dup stages have no bounded-state streaming form; per
    // micro-batch, IncrementalDedup.ingest emits each candidate pair exactly once
    // (at the ingest of its later member) against the append-only store
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def text(i: Long) =
      if (i % 5 == 0) base
      else if (i % 5 == 1) base.replace("kappa", s"mut$i")
      else s"unique words only document number $i filler ${i * 31}"
    val storeDir =
      java.nio.file.Files.createTempDirectory("inc_dedup_stream").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= IncrementalDedup.ingest(storeDir, batch).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .outputMode(OutputMode.Append()).start()
    val corpus = (0L until 40L).map(i => (i, text(i)))
    try {
      val (b1, rest) = corpus.splitAt(13)
      val (b2, b3) = rest.splitAt(14)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      val batchPairs = TextPipeline
        .minhashCandidates(corpus.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.synchronized(got.toSet) == batchPairs)
    } finally q.stop()
  }

  test("streaming pattern finder: classify composes on the biflow join stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.analytics.PatternFinder
    val mem = MemoryStream[Fx]
    val pairs = StreamingAnalytics.biflowPairs(
      FlowSource.withEventTime(mem.toDF()), tolerance = "500 milliseconds")
    val classified = PatternFinder.classify(pairs,
      Seq(PatternFinder.Pattern("bulk", Seq(100.0, 5.0, 500.0, 6.0, 1000.0))),
      thresholds = Seq(1.0, 2.0))
    val q = classified.writeStream.format("memory").queryName("pf_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Fx(flow_id = 1, src_ip4 = "10.7.0.1", dst_ip = "192.0.2.9",
          src_port = 40000, dst_port = 53, start_ms = 10000L, end_ms = 10100L,
          packets = 5, bytes = 500),
        Fx(flow_id = 2, src_ip4 = "192.0.2.9", dst_ip = "10.7.0.1",
          src_port = 53, dst_port = 40000, start_ms = 10200L, end_ms = 10300L,
          packets = 6, bytes = 1000))
      q.processAllAvailable()
      val got = spark.table("pf_stream").collect()
      assert(got.length == 1)
      assert(got(0).getAs[String]("closest_pattern") == "bulk")
      assert(got(0).getAs[Int]("bin") == 0) // distance 0 -> first bin
    } finally q.stop()
  }

  test("streaming open resolvers: windowed answer inventory with first-seen") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val out = StreamingAnalytics.openResolvers(
      FlowSource.withEventTime(mem.toDF()), window = "60 seconds")
    val q = out.writeStream.format("memory").queryName("openres_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Fx(flow_id = 1, src_ip4 = "198.51.100.5", dns_name = "x.example",
          dns_flags = Some(33152L), dns_crr_type = Some(1),
          dns_rdata = "0x01020304", start_ms = 10000L),
        Fx(flow_id = 2, src_ip4 = "198.51.100.5", dns_name = "x.example",
          dns_flags = Some(33152L), dns_crr_type = Some(1),
          dns_rdata = "0x01020304", start_ms = 20000L),
        // watermark pusher
        Fx(flow_id = 9, src_ip4 = "198.51.100.9", dns_name = "y.example",
          dns_flags = Some(33152L), dns_crr_type = Some(1),
          dns_rdata = "0x05060708", start_ms = 500000L))
      q.processAllAvailable()
      val r = spark.table("openres_out")
        .filter(col("resolver_ip") === "198.51.100.5").collect()
      assert(r.length == 1)
      assert(r(0).getAs[String]("resolved_data") == "1.2.3.4")
      assert(r(0).getAs[Long]("flows") == 2L)
      assert(r(0).getAs[Long]("first_seen_ms") == 10000L)
    } finally q.stop()
  }

  test("streaming biflow self-join pairs request/response within tolerance") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val pairs = StreamingAnalytics.biflowPairs(
      FlowSource.withEventTime(mem.toDF()), tolerance = "500 milliseconds")
    val q = pairs.writeStream.format("memory").queryName("biflow_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        // request: ephemeral 40000 -> 53
        Fx(flow_id = 1, src_ip4 = "10.7.0.1", dst_ip = "192.0.2.9",
          src_port = 40000, dst_port = 53, start_ms = 10000L),
        // response within 400ms: 53 -> 40000 (same canonical key)
        Fx(flow_id = 2, src_ip4 = "192.0.2.9", dst_ip = "10.7.0.1",
          src_port = 53, dst_port = 40000, start_ms = 10400L),
        // late response beyond tolerance
        Fx(flow_id = 3, src_ip4 = "192.0.2.9", dst_ip = "10.7.0.1",
          src_port = 53, dst_port = 40000, start_ms = 20000L))
      q.processAllAvailable()
      val got = spark.table("biflow_out").collect()
      assert(got.length == 1)
      assert(got(0).getAs[Long]("req_id") == 1L &&
        got(0).getAs[Long]("rsp_id") == 2L)
      assert(got(0).getAs[String]("client_ip") == "10.7.0.1")
    } finally q.stop()
  }

  test("streaming interval join emits pair within tolerance") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val joined = StreamingAnalytics.externalResolvers(
      FlowSource.withEventTime(mem.toDF()), tolerance = "5 seconds")
    val q = joined.writeStream.format("memory").queryName("xres")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Fx(flow_id = 1, protocol = 17, src_ip4 = "10.6.0.1", dst_ip = "8.8.8.8",
          dns_flags = Some(33152L), start_ms = 10000L),
        Fx(flow_id = 2, protocol = 6, src_ip4 = "10.6.0.1", start_ms = 12000L),
        Fx(flow_id = 3, protocol = 6, src_ip4 = "10.6.0.1", start_ms = 99000L))
      q.processAllAvailable()
      val got = spark.table("xres").collect()
      assert(got.length == 1)
      assert(got(0).getAs[String]("resolver_ip") == "8.8.8.8")
    } finally q.stop()
  }

  test("four concurrent streaming queries share one session without state cross-talk") {
    // the streaming face of the concurrent-session posture
    // (tools/ConcurrentBench covers batch): a production engine runs
    // MANY streaming queries against one SparkSession — keyed-state
    // dedup, keyed-state profiles, and watermark dedup all at once,
    // sharing the state-store infrastructure, the listener bus, and
    // the shuffle config. Each query below reuses an expectation its
    // single-query spec already pins; data is fed in interleaved
    // rounds and the micro-batches are driven from four PARALLEL
    // threads, so the assertion is isolation under true concurrency,
    // not just four queries that happened to take turns.
    implicit val sqlCtx = spark.sqlContext
    val memDedup = MemoryStream[ReportDedup.Observation]
    val memScan = MemoryStream[Fx]
    val memDdos = MemoryStream[Fx]
    val memDocs = MemoryStream[(Long, String, java.sql.Timestamp)]
    val qDedup = ReportDedup(memDedup.toDS(), reportIntervalMs = 60000L)
      .writeStream.format("memory").queryName("cc_dedup")
      .outputMode(OutputMode.Append()).start()
    val qScan = StreamingAnalytics.portScanReports(
        FlowSource.withEventTime(memScan.toDF()), reportIntervalMs = 60000L)
      .writeStream.format("memory").queryName("cc_scan")
      .outputMode(OutputMode.Append()).start()
    val qDdos = StreamingAnalytics.ddosKeyedState(
        FlowSource.withEventTime(memDdos.toDF()),
        dstPattern = "192\\.168\\..*", ratioIncrease = 5.0,
        minPackets = 100L, stateTtlMs = dayMs)
      .toDF().writeStream.format("memory").queryName("cc_ddos")
      .outputMode(OutputMode.Append()).start()
    val qDocs = graft.pipeline.TextPipeline.dedupStreaming(
        memDocs.toDF().toDF("doc_id", "text", "event_time"))
      .writeStream.format("memory").queryName("cc_docs")
      .outputMode(OutputMode.Append()).start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      // round 1, interleaved feeds across all four sources
      memDedup.addData(obs("a|b|22", 1000L, 5L),
        obs("a|b|22", 2000L, 3L))
      memScan.addData((1 to 3).map(i => Fx(flow_id = i,
        src_ip4 = "10.9.0.1", dst_ip = s"192.0.2.$i", dst_port = 22,
        tcp_flags = 2L, start_ms = i * 1000L)): _*)
      memDdos.addData((0 until 10).map(i =>
        Fx(flow_id = i, src_ip4 = s"10.1.0.$i", dst_ip = "192.168.1.1",
          packets = 10)): _*)
      memDocs.addData((1L, "alpha", ts(10)), (2L, "beta", ts(11)),
        (3L, "alpha", ts(12)))
      val queries = Seq(qDedup, qScan, qDdos, qDocs)
      def driveAll(): Unit = {
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val threads = queries.map { q =>
          val t = new Thread(() =>
            try q.processAllAvailable()
            catch { case e: Throwable => errs.add(e) })
          t.start(); t
        }
        threads.foreach(_.join())
        assert(errs.isEmpty, errs)
      }
      driveAll()
      // round 2: advance each query's state machine
      memDedup.addData(obs("a|b|22", 70000L, 7L))
      memScan.addData(Fx(flow_id = 5, src_ip4 = "10.9.0.1",
        dst_ip = "192.0.2.9", dst_port = 22, tcp_flags = 2L,
        start_ms = 70000L))
      memDdos.addData((0 until 5).map(i =>
        Fx(flow_id = 100 + i, src_ip4 = s"10.2.0.$i",
          dst_ip = "192.168.1.1", packets = 1000)): _*)
      memDocs.addData((4L, "alpha", ts(20)), (5L, "gamma", ts(21)))
      driveAll()
      // every query's output equals its single-query spec expectation
      val dedupRows = spark.table("cc_dedup").as[ReportDedup.Report]
        .collect().sortBy(_.ts)
      assert(dedupRows.length == 2 &&
        dedupRows(1).flows_total == 15L &&
        dedupRows(1).flows_increment == 10L)
      val horiz = spark.table("cc_scan").as[ReportDedup.Report]
        .collect().filter(_.key == "horizontal|10.9.0.1|22").sortBy(_.ts)
      assert(horiz.length == 2 && horiz(1).flows_total == 4L)
      val ddosRows = spark.table("cc_ddos").collect()
      assert(ddosRows.length == 1 &&
        ddosRows.head.getAs[Long]("packets") == 5000L &&
        ddosRows.head.getAs[Double]("long_ratio") == 10.0d)
      val docIds = spark.table("cc_docs").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(docIds == Set(1L, 2L, 5L), docIds)
    } finally Seq(qDedup, qScan, qDdos, qDocs).foreach(_.stop())
  }

  // ----- stream == batch parity (SURVEY §5) -------------------------------
  // Each case streams flows that all fall inside one event-time window
  // through one MemoryStream batch and compares the sink with the batch
  // analytic over the same flows: the two forms share one predicate,
  // projection and aggregate list, so only the window column differs.

  /** An hour boundary: every parity fixture starts here and stays inside
    * the hour, so the streaming forms see exactly one window. */
  private val hourT0 = 1502899200000L

  /** `build` over `rows` streamed in one batch; the memory sink's rows. */
  private def streamed(name: String, rows: Seq[Fx],
                       mode: OutputMode = OutputMode.Complete())(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Fx]
    val q = build(FlowSource.withEventTime(mem.toDF())).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    spark.table(name)
  }

  /** Host-profile fixture: three v4 hosts and one v6-only host, with a
    * few flows missing `packets` or `bytes` (both forms drop them). */
  private val hostFlows = (0 until 400).map(i => Fx(flow_id = i,
    src_ip4 = if (i % 50 == 3) null else s"10.0.0.${i % 3}",
    src_ip6 = if (i % 50 == 3) "2001:db8::1" else null,
    dst_ip = s"192.0.2.${i % 97}", dst_port = 1000 + i % 61,
    protocol = if (i % 4 == 0) 17 else 6, tcp_flags = i % 256L,
    packets = 1L + i % 13, bytes = 100L + 7L * i,
    start_ms = hourT0 + 60000L + 1000L * i,
    end_ms = hourT0 + 60000L + 1000L * i + 250L * (i % 9)))

  private def nullVolumes(flows: org.apache.spark.sql.DataFrame) = flows
    .withColumn("packets", when(col("flow_id") % 50 === 7, lit(null)).otherwise(col("packets")))
    .withColumn("bytes", when(col("flow_id") % 50 === 9, lit(null)).otherwise(col("bytes")))

  test("parity: streaming hostStats == batch HostStats (HLL distincts near exact)") {
    import graft.analytics.HostStats
    val flows = nullVolumes(Fx.df(spark, hostFlows: _*))
    val batch = HostStats(flows)
    // the same HLL over the same rows, unwindowed: the stream's sketch must
    // see exactly the flows the batch form keeps
    val hll = HostStats.aggs(approx_count_distinct(_))
    val batchHll = HostStats.profiled(flows).groupBy(HostStats.srcIp)
      .agg(hll.head, hll.tail: _*)
    val approx = Seq("dport_count", "peer_number")
    val exact = batch.columns.filterNot(approx.contains)
    val got = streamed("par_host_stats", hostFlows)(f =>
      StreamingAnalytics.hostStats(nullVolumes(f), window = "1 hour", slide = "1 hour"))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("src_ip") -> r).toMap
    val (b, h, s) = (keyed(batch), keyed(batchHll), keyed(got))
    assert(b.size == 4 && s.keySet == b.keySet)
    for ((ip, br) <- b; sr = s(ip)) {
      exact.foreach(c => assert(sr.getAs[Any](c) == br.getAs[Any](c), s"$ip $c"))
      approx.foreach { c =>
        assert(sr.getAs[Long](c) == h(ip).getAs[Long](c), s"$ip $c")
        // approx_count_distinct's default rsd is 5 %: allow 3 standard
        // deviations (one estimate here reads 98 peers for 93)
        val (e, a) = (br.getAs[Long](c).toDouble, sr.getAs[Long](c).toDouble)
        assert(math.abs(a - e) <= 0.15 * e, s"$ip $c: approx $a vs exact $e")
      }
    }
  }

  test("parity: streaming dailyProfile hourly rows == batch HostDailyProfile") {
    val batch = graft.analytics.HostDailyProfile(nullVolumes(Fx.df(spark, hostFlows: _*)))
      .select(col("src_ip"), (col("day_start_ms") + col("hour_slot") * 3600000L),
        col("hour_slot"), col("packets"), col("bytes"), col("flows"))
    val got = streamed("par_daily", hostFlows)(f =>
      StreamingAnalytics.dailyProfile(nullVolumes(f)))
      .select(col("src_ip"), unix_millis(col("hour_start")), col("hour_slot"),
        col("packets"), col("bytes"), col("flows"))
    val b = batch.collect().map(_.toSeq).toSet
    assert(b.size == 4)
    assert(got.collect().map(_.toSeq).toSet == b)
  }

  test("parity: streaming tlsClassification == batch TlsClassification") {
    val dict = Seq(
      graft.analytics.TlsClassification.DictEntry("002f,0035", "d0", "os0", "app0", "br0"),
      graft.analytics.TlsClassification.DictEntry("c02b", "d1", "os1", null, "br1"))
    val suites = Seq("0x2f003500", "0x2bc0", "0xabcd1234", null,
      "0x00000000000000000000000000000000", "0x2f0035000000")
    val flows = (0 until 30).map(i => Fx(flow_id = i,
      tls_cipher_suites = suites(i % suites.size), start_ms = hourT0 + 1000L * i))
    val batch = graft.analytics.TlsClassification(spark, Fx.df(spark, flows: _*), dict)
    val got = streamed("par_tls", flows)(f =>
      StreamingAnalytics.tlsClassification(f, dict, window = "1 hour"))
      .select("stat_type", "key", "value")
    val b = batch.collect().map(_.toSeq).toSet
    assert(b.contains(Seq("application", "Unknown", 10L)))
    assert(got.collect().map(_.toSeq).toSet == b)
  }

  test("parity: streaming reflectDdos == batch ReflectDdosDetection") {
    val servers = Seq("192.168.0.53", "192.168.0.54")
    val flows = (0 until 120).map { i =>
      val victim = s"10.7.0.${i % 5}"
      val server = servers(i % 2)
      val reply = i % 3 != 0
      Fx(flow_id = i, protocol = if (i % 17 == 0) 6 else 17,
        src_ip4 = if (reply) server else victim,
        dst_ip = if (i % 23 == 0) "192.168.0.99" else if (reply) victim else server,
        bytes = if (reply) 100L * (i % 5) else 100L, packets = 1L + i % 4,
        start_ms = hourT0 + 1000L * i)
    }
    val batch = graft.analytics.ReflectDdosDetection(Fx.df(spark, flows: _*), servers,
      ratioThreshold = 3.0, minReplies = 4L)
    val got = streamed("par_reflect", flows)(f =>
      StreamingAnalytics.reflectDdos(f, servers, ratioThreshold = 3.0, minReplies = 4L,
        window = "1 hour"))
      .select(batch.columns.map(col): _*)
    val b = batch.collect().map(_.toSeq).toSet
    assert(b.nonEmpty && b.size < 10) // some (victim, server) pairs gated out
    assert(got.collect().map(_.toSeq).toSet == b)
  }

  test("parity: streaming biflowPairs == batch PatternFinder.biflows (req_id, rsp_id)") {
    // response offsets around the ±500 ms tolerance, both directions
    val offsets = Seq(0L, 100L, 499L, 500L, 501L, -300L, -500L, -501L, 2000L)
    val flows = offsets.zipWithIndex.flatMap { case (off, k) =>
      val t = hourT0 + 10000L * k
      Seq(
        Fx(flow_id = 2L * k, src_ip4 = s"10.7.0.$k", dst_ip = "192.0.2.9",
          src_port = 40000L + k, dst_port = 53, start_ms = t),
        Fx(flow_id = 2L * k + 1, src_ip4 = "192.0.2.9", dst_ip = s"10.7.0.$k",
          src_port = 53L, dst_port = 40000 + k, start_ms = t + off))
    } :+ Fx(flow_id = 99, src_ip4 = "10.7.0.0", dst_ip = "192.0.2.9",
      src_port = 40000L, dst_port = 53, start_ms = hourT0 + 200L) // second request
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("req_id", "rsp_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = ids(graft.analytics.PatternFinder.biflows(Fx.df(spark, flows: _*), 500L))
    assert(batch == Set((0L, 1L), (99L, 1L), (2L, 3L), (4L, 5L), (6L, 7L),
      (10L, 11L), (12L, 13L)))
    assert(ids(streamed("par_biflow", flows, OutputMode.Append())(f =>
      StreamingAnalytics.biflowPairs(f, tolerance = "500 milliseconds"))) == batch)
  }

  test("parity: streaming port-scan and SSH candidates == the batch detections") {
    // port scan: pure-SYN test over the low 5 flag bits, TCP only, v4 source
    val flags = Seq(2L, 18L, 34L, 3L, 0L, 66L)
    val scan = (0 until 48).map(i => Fx(flow_id = i,
      protocol = if (i % 11 == 0) 17 else 6, tcp_flags = flags(i % flags.size),
      src_ip4 = if (i % 13 == 5) null else s"10.9.0.${i % 2}",
      dst_ip = s"192.0.2.${i % 7}", dst_port = 20 + i % 3,
      start_ms = hourT0 + 1000L * i))
    val batchScan = graft.analytics.PortScanDetection(Fx.df(spark, scan: _*), 1L)
      .collect().map(r => s"${r.getAs[String]("scan_type")}|${r.getAs[String]("src_ip")}|" +
        r.getAs[String]("key") -> r.getAs[Long]("flows")).toMap
    val streamScan = streamed("par_scan", scan, OutputMode.Append())(
      StreamingAnalytics.scanObservations(_).toDF())
      .groupBy("key").agg(sum("flows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batchScan.nonEmpty && streamScan == batchScan)

    // ssh: each flow sits on one side of one band edge (own source host)
    val inBand = Fx(protocol = 6, dst_port = 22, src_port = 40000L, packets = 15L,
      bytes = 2000L, start_ms = hourT0, end_ms = hourT0 + 3000L)
    val ssh = Seq[Fx => Fx](identity, _.copy(protocol = 17), _.copy(dst_port = 23),
      _.copy(src_port = 1024L), _.copy(src_port = 1025L),
      _.copy(packets = 10L), _.copy(packets = 11L), _.copy(packets = 19L),
      _.copy(packets = 20L), _.copy(bytes = 1800L), _.copy(bytes = 1801L),
      _.copy(bytes = 4999L), _.copy(bytes = 5000L),
      _.copy(end_ms = hourT0 + 11999L), _.copy(end_ms = hourT0 + 12000L))
      .zipWithIndex.map { case (edit, i) =>
        edit(inBand).copy(flow_id = i, src_ip4 = s"10.5.0.$i",
          start_ms = inBand.start_ms + i, end_ms = edit(inBand).end_ms + i)
      }
    val batchSsh = graft.analytics.SshAuthDetection(Fx.df(spark, ssh: _*), 1L)
      .collect().map(r => s"${r.getAs[String]("src_ip")}|${r.getAs[String]("dst_ip")}").toSet
    val streamSsh = streamed("par_ssh", ssh, OutputMode.Append())(
      StreamingAnalytics.sshAuthReports(_).toDF())
      .collect().map(_.getAs[String]("key")).toSet
    assert(batchSsh.size == 7 && streamSsh == batchSsh)
  }
}
