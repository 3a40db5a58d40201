package graft

import org.apache.spark.sql.functions._
import graft.analytics.HostStats
import graft.queries.ReadSide
import graft.results.Documents

class ResultsSpec extends SparkSpec {
  import spark.implicits._

  test("hostStatsDoc: nested @type document shape + field values") {
    val flows = Fx.df(spark,
      Fx(flow_id = 1, src_ip4 = "10.0.0.1", dst_ip = "192.0.2.1",
        dst_port = 80, packets = 10, bytes = 1000, tcp_flags = 2),
      Fx(flow_id = 2, src_ip4 = "10.0.0.1", dst_ip = "192.0.2.2",
        dst_port = 443, packets = 5, bytes = 700, tcp_flags = 16))
    val doc = Documents.hostStatsDoc(HostStats(flows), lit(1700000000000L))
    val r = doc.selectExpr("`@type`", "src_ip", "stats.total.packets",
      "stats.total.flow", "stats.peer_number", "stats.tcp_flags.SYN",
      "stats.tcp_flags.ACK").head()
    assert(r.getString(0) == "host_stats")
    assert(r.getString(1) == "10.0.0.1")
    assert(r.getLong(2) == 15L && r.getLong(3) == 2L && r.getLong(4) == 2L)
    assert(r.getLong(5) == 1L && r.getLong(6) == 1L)
  }

  test("dataArrayDoc round-trips through nestedTopN (ES nested dual)") {
    val stats = Seq(
      ("qtype", "A", 30L), ("qtype", "AAAA", 12L), ("qtype", "MX", 5L),
      ("rcode", "NoError", 40L), ("rcode", "NXDomain", 2L))
      .toDF("stat_type", "key", "value")
    val docs = Documents.dataArrayDoc(stats, "dns_statistics", lit(1700000000000L))
    assert(docs.count() == 2) // one doc per stat_type
    val top = ReadSide.nestedTopN(docs, 2).orderBy("stat_type", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3)))
    assert(top.toSeq == Seq(
      ("qtype", "A", 1), ("qtype", "AAAA", 2),
      ("rcode", "NoError", 1), ("rcode", "NXDomain", 2)))
  }

  test("writeDaily/readDaily: date partitioning prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    val stats = Seq(("t", "k", 1L)).toDF("stat_type", "key", "value")
    Documents.writeDaily(
      Documents.dataArrayDoc(stats, "x", lit(1700000000000L)), dir) // 2023-11-14
    Documents.writeDaily(
      Documents.dataArrayDoc(stats, "x", lit(1700950000000L)), dir) // 2023-11-25
    val pruned = Documents.readDaily(spark, dir, "2023-11-14", "2023-11-14")
    assert(pruned.count() == 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"))
  }

  test("deleteDaily: scoped retirement, fully-retired day removed, others untouched") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("retire").toString + "/store"
    def doc(key: String, v: Long, tsMs: Long) =
      Seq((key, v)).toDF("key", "value")
        .withColumn("@timestamp",
          org.apache.spark.sql.functions.timestamp_millis(lit(tsMs)))
    val day1 = 1700000000000L // 2023-11-14
    val day2 = 1700100000000L // 2023-11-16
    val day3 = 1700300000000L // 2023-11-18
    Documents.writeDaily(doc("a", 1L, day1).unionByName(doc("b", 2L, day1)), dir)
    Documents.writeDaily(doc("a", 3L, day2).unionByName(doc("c", 4L, day2)), dir)
    Documents.writeDaily(doc("d", 5L, day3), dir) // untouched by the retire
    def files(day: String) = {
      val d = new java.io.File(s"$dir/day=$day")
      if (!d.exists) Set.empty[String] else d.listFiles.map(_.getName).toSet
    }
    val day3Files = files("2023-11-18")
    // a crashed prior retire leaves a stale temp sibling — cleared, not fatal
    new java.io.File(new java.io.File(dir).getParentFile,
      ".delete_store/day=2023-11-16").mkdirs()
    // retire "a" (present on day1 and day2) and "c" — day2 loses ALL rows
    Documents.deleteDaily(spark, dir,
      Seq("a", "c").toDF("key"), key = "key")
    val got = spark.read.parquet(dir)
      .select(col("key"), col("value"), col("day").cast("string")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("b", 2L, "2023-11-14"), ("d", 5L, "2023-11-18")), got)
    // day2 held only retired keys -> its partition directory is GONE
    assert(files("2023-11-16").isEmpty)
    // day3 had no retired key -> not rewritten, identical file names
    assert(files("2023-11-18") == day3Files)
    // retiring absent keys is a no-op
    Documents.deleteDaily(spark, dir, Seq("zz").toDF("key"), key = "key")
    assert(files("2023-11-18") == day3Files &&
      spark.read.parquet(dir).count() == 2)
    // crash-safe rewrite hygiene: no temp sibling or .old_ leftovers
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles.exists(_.getName.startsWith(".delete_")))
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith(".old_")))
  }

  test("deleteDaily: a day stranded at .old_ by a mid-swap crash is recovered, not silently lost") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("upcrash").toString + "/store"
    def doc(key: String, v: Long, tsMs: Long) =
      Seq((key, v)).toDF("key", "value")
        .withColumn("@timestamp",
          org.apache.spark.sql.functions.timestamp_millis(lit(tsMs)))
    val day1 = 1700000000000L // 2023-11-14
    val day2 = 1700100000000L // 2023-11-16
    Documents.writeDaily(doc("a", 1L, day1).unionByName(doc("b", 2L, day1)), dir)
    Documents.writeDaily(doc("c", 3L, day2), dir)
    def strandDay1(): Unit = {
      // the state a crash between swapPartition's two renames leaves:
      // the partition renamed away, the rewrite never renamed in
      val live = new java.io.File(s"$dir/day=2023-11-14")
      assert(live.renameTo(new java.io.File(s"$dir/.old_day=2023-11-14")))
    }
    def got() = spark.read.parquet(dir)
      .select(col("key"), col("value"), col("day").cast("string")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // the natural retry: retire a key of the stranded day. Without
    // recovery the root read silently misses day1, and b stays stranded
    // where no read finds it.
    strandDay1()
    Documents.deleteDaily(spark, dir, Seq("a").toDF("key"), key = "key")
    assert(got() == Set(("b", 2L, "2023-11-14"), ("c", 3L, "2023-11-16"))) // b survived
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith(".old_")))
    // a stranded day that holds no retired key is restored as it was
    strandDay1()
    Documents.deleteDaily(spark, dir, Seq("c").toDF("key"), key = "key")
    assert(got() == Set(("b", 2L, "2023-11-14")))
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith(".old_")))
  }

  test("dailyProfileDoc: dense 24-slot array, zero-filled silent hours") {
    val profile = Seq(
      ("10.0.0.1", 0L, 3, 100L, 1000L, 2L),
      ("10.0.0.1", 0L, 23, 50L, 500L, 1L))
      .toDF("src_ip", "day_start_ms", "hour_slot", "packets", "bytes", "flows")
    val doc = Documents.dailyProfileDoc(profile)
    val r = doc.selectExpr("src_ipv4", "size(stats)",
      "stats[3].packets", "stats[23].flows", "stats[0].packets").head()
    assert(r.getString(0) == "10.0.0.1")
    assert(r.getInt(1) == 24)
    assert(r.getLong(2) == 100L && r.getLong(3) == 1L && r.getLong(4) == 0L)
  }

  test("full chain: streaming host stats -> nested doc -> daily store -> read-side query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("chain").toString
    val mem = MemoryStream[Fx]
    val stats = graft.streaming.StreamingAnalytics.hostStats(
      graft.streaming.FlowSource.withEventTime(mem.toDF()),
      window = "10 seconds", slide = "10 seconds")
    val q = graft.streaming.ResultSink.foreachBatch(stats) { (batch, _) =>
      if (!batch.isEmpty)
        Documents.writeDaily(
          Documents.hostStatsDoc(
            batch.withColumn("src_ip", col("src_ip")),
            col("window.start").cast("long") * 1000L),
          store)
    }.start()
    try {
      mem.addData(
        Fx(flow_id = 1, src_ip4 = "10.0.0.1", packets = 10, bytes = 500,
          start_ms = 1700000000000L),
        Fx(flow_id = 2, src_ip4 = "10.0.0.1", packets = 4, bytes = 200,
          start_ms = 1700000002000L),
        // watermark push so the window closes
        Fx(flow_id = 9, src_ip4 = "10.0.0.9", start_ms = 1700000100000L))
      q.processAllAvailable()
      val day = "2023-11-14"
      val docs = Documents.readDaily(spark, store, day, day)
      val r = docs.filter(col("src_ip") === "10.0.0.1")
        .selectExpr("stats.total.packets", "stats.total.flow").head()
      assert(r.getLong(0) == 14L && r.getLong(1) == 2L)
      // read-side heatmap over the stored documents
      val heat = ReadSide.groupSum(docs, col("src_ip"),
        col("stats.total.flow")).collect()
      assert(heat.head.getString(0) == "10.0.0.1")
    } finally q.stop()
  }

  test("ReadSide.minAvgMax and groupSum and distinctCount shapes") {
    val df = Seq(
      (1000L, "a", 1.0, "u1"), (2000L, "a", 3.0, "u2"),
      (61000L, "b", 5.0, "u1"), (62000L, "b", 7.0, "u1"))
      .toDF("ts_ms", "k", "v", "user")
    val mam = ReadSide.minAvgMax(df, col("ts_ms"), 60000L, col("v"))
      .orderBy("bucket_ms").collect()
    assert(mam(0).getDouble(1) == 1.0 && mam(0).getDouble(2) == 2.0)
    assert(mam(1).getDouble(3) == 7.0)
    val gs = ReadSide.groupSum(df, col("k"), col("v")).collect()
    assert(gs(0).getString(0) == "b" && gs(0).getDouble(1) == 12.0)
    val dc = ReadSide.distinctCount(df, col("k"), col("user"))
      .orderBy("key").collect()
    assert(dc(0).getLong(1) == 2L && dc(1).getLong(1) == 1L)
  }

  test("portScanDoc: reference shape incl. ISO timestamp; daily round-trip") {
    val scans = Seq(
      ("horizontal", "10.0.0.9", "22", 40L, 20L, 9000L, 1700000000123L),
      ("vertical", "10.0.0.9", "192.0.2.1", 25L, 25L, 5000L, 1700000000500L))
      .toDF("scan_type", "src_ip", "key", "flows", "targets_total",
        "duration_ms", "last_seen_ms")
    val doc = Documents.portScanDoc(scans).orderBy("@type")
    val rows = doc.selectExpr("`@type`", "dst_port", "dst_ip", "flows",
      "duration_in_milliseconds", "timestamp", "flows_increment",
      "targets_total").collect()
    assert(rows(0).getString(0) == "portscan_horizontal")
    assert(rows(0).getString(1) == "22" && rows(0).isNullAt(2))
    assert(rows(0).getString(5) == "2023-11-14T22:13:20.123Z")
    assert(rows(1).getString(0) == "portscan_vertical")
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "192.0.2.1")
    // daily store round-trip keeps the shape
    val dir = java.nio.file.Files.createTempDirectory("psdocs").toString
    Documents.writeDaily(doc, dir)
    val back = Documents.readDaily(spark, dir, "2023-11-14", "2023-11-14")
    assert(back.count() == 2)
    assert(back.columns.contains("@type") && back.columns.contains("timestamp"))
  }

  test("ddos/ssh/resolver docs: reference @type fields") {
    val ddos = Seq(("192.168.1.1", 500.0, 10.0, 123L, "10.2.0.1,10.2.0.2"))
      .toDF("dst_ip", "shortratio", "longratio", "packets_short", "attackers")
    val dd = Documents.ddosDoc(ddos, lit(1700000000000L)).head()
    assert(dd.getString(0) == "detection.ddos")
    assert(dd.getSeq[String](dd.fieldIndex("attackers")).toSeq ==
      Seq("10.2.0.1", "10.2.0.2"))

    val ssh = Seq(("10.0.0.1", "192.0.2.9", 12L, 14.5, 8000L, 1700000000001L))
      .toDF("src_ip", "dst_ip", "flows", "average_packet_count",
        "duration_ms", "last_seen_ms")
    val sd = Documents.sshAuthDoc(ssh).head()
    assert(sd.getString(0) == "ssh_auth_simple")
    assert(sd.getAs[Long]("flows_increment") == 12L)
    assert(sd.getAs[String]("timestamp") == "2023-11-14T22:13:20.001Z")

    val res = Seq(("10.0.0.1", "8.8.8.8", 7L, 3L, 1700000000002L))
      .toDF("client_ip", "resolver_ip", "flows", "distinct_tcp_flows",
        "last_seen_ms")
    val rd = Documents.resolverDoc(res).head()
    assert(rd.getString(0) == "external_dns_resolver")
    assert(rd.getAs[String]("src_ip") == "10.0.0.1")
    assert(rd.getAs[Long]("flows_increment") == 7L)
  }

  test("topNHostStatsDoc: ranked-dict stats maps (top_n_host_stats shape)") {
    val topN = Seq(
      ("10.0.0.1", "dst_port", "80", 30L, 1),
      ("10.0.0.1", "dst_port", "443", 12L, 2),
      ("10.0.0.1", "dst_ip", "192.0.2.1", 20L, 1),
      ("10.0.0.1", "http_host", "example.test", 9L, 1))
      .toDF("src_ip", "stat_type", "key", "flows", "rank")
    val doc = Documents.topNHostStatsDoc(topN, lit(1700000000000L))
    assert(doc.count() == 1)
    val r = doc.selectExpr("`@type`", "src_ip",
      "stats['top_n_dst_ports']['0'].key",
      "stats['top_n_dst_ports']['0'].flows",
      "stats['top_n_dst_ports']['1'].key",
      "stats['top_n_dst_hosts']['0'].key",
      "stats['top_n_http_dst']['0'].key").head()
    assert(r.getString(0) == "top_n_host_stats")
    assert(r.getString(2) == "80" && r.getLong(3) == 30L)
    assert(r.getString(4) == "443")
    assert(r.getString(5) == "192.0.2.1")
    assert(r.getString(6) == "example.test")
  }

  test("patternFinderDoc: @type=pattern_finder nested data_array shape (pattern_finder.py:334-378)") {
    import graft.analytics.PatternFinder
    val pats = Seq(PatternFinder.Pattern("p0", Seq(100.0, 5.0, 500.0, 6.0, 1000.0)))
    val cfg = PatternFinder.DistConfig(
      intervals = Seq(0.0, 1.0, 2.0, 4.0), weights = Seq(2L, 1L, 1L, 2L),
      limit = 2L)
    val pairs = Seq(("10.1.0.3", "192.0.2.7", 1000L, 1100L, 5L, 500L, 6L, 1000L))
      .toDF("client_ip", "server_ip", "req_start_ms", "req_end_ms",
        "req_packets", "req_bytes", "rsp_packets", "rsp_bytes")
    val doc = Documents.patternFinderDoc(
      PatternFinder.patternReport(pairs, pats, cfg),
      "Anomaly Detection", lit(1700000000000L))
    val r = doc.selectExpr("`@type`", "configuration", "src_ip", "dst_ip",
      "data_array[0].name", "data_array[0].distribution",
      "closest_patterns").head()
    assert(r.getString(0) == "pattern_finder")
    assert(r.getString(1) == "Anomaly Detection")
    assert(r.getString(2) == "10.1.0.3" && r.getString(3) == "192.0.2.7")
    assert(r.getString(4) == "p0")
    assert(r.getSeq[Long](5).toSeq == Seq(2L, 0L, 0L, 0L))
    assert(r.getSeq[String](6).toSeq == Seq("p0"))
  }

  test("patternFinderDocFromReports: streaming PatternReport rows → pattern_finder doc (pattern_finder.py:334-378)") {
    import graft.streaming.ReportDedup
    // Two patterns, nBins=4, mid=2, limit=2. dist is patterns-major flattened:
    // p0 = [2,1,0,0] (left 3 > right 0, qualifies), p1 = [0,0,3,0] (left 0).
    val reports = Seq(
      ReportDedup.PatternReport("10.1.0.3-192.0.2.7", 1700000000000L,
        Seq(2L, 1L, 0L, 0L, 0L, 0L, 3L, 0L))).toDS()
    val doc = Documents.patternFinderDocFromReports(
      reports.toDF(), Seq("p0", "p1"), nBins = 4, mid = 2, limit = 2L,
      configName = "Anomaly Detection")
    val r = doc.selectExpr("`@type`", "configuration", "src_ip", "dst_ip",
      "data_array[0].name", "data_array[0].distribution",
      "data_array[1].name", "data_array[1].distribution",
      "closest_patterns", "`@timestamp`").head()
    assert(r.getString(0) == "pattern_finder")
    assert(r.getString(1) == "Anomaly Detection")
    assert(r.getString(2) == "10.1.0.3" && r.getString(3) == "192.0.2.7")
    assert(r.getString(4) == "p0")
    assert(r.getSeq[Long](5).toSeq == Seq(2L, 1L, 0L, 0L))
    assert(r.getString(6) == "p1")
    assert(r.getSeq[Long](7).toSeq == Seq(0L, 0L, 3L, 0L))
    assert(r.getSeq[String](8).toSeq == Seq("p0"))
    assert(r.getTimestamp(9).getTime == 1700000000000L)

    // Tie on left half-sum → both names in closest_patterns; simple-vector
    // configs keep the raw key.
    val tie = Seq(
      ReportDedup.PatternReport("10.9.9.9", 1700000001000L,
        Seq(3L, 0L, 0L, 0L, 0L, 3L, 1L, 0L))).toDS()
    val tieDoc = Documents.patternFinderDocFromReports(
      tie.toDF(), Seq("p0", "p1"), nBins = 4, mid = 2, limit = 2L,
      configName = "cfg", splitKey = false)
    val t = tieDoc.selectExpr("key", "closest_patterns").head()
    assert(t.getString(0) == "10.9.9.9")
    assert(t.getSeq[String](1).toSeq == Seq("p0", "p1"))
  }
}
