package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.queries.ReadSide
import graft.results.Documents

/** dashboard_rw: a closed loop of client threads over a daily results
  * store. Every [[WriteEvery]]th operation appends a fresh result batch to
  * the current day; the others run the seven ReadSide shapes in turn over
  * `Documents.readDaily`, four in five over the last few days, one over
  * the whole store.
  */
object Dashboard {
  val Days = 14
  val Hosts = 300
  val SlotsPerDay = 8
  val DnsDays = 7
  val WriteEvery = 10
  val Day0Ms = FlowGen.T0
  val DayMs = 86400000L
  val shapes = Seq("timeSeries", "totals", "groupSum", "minAvgMax", "nestedTopN",
    "latestPerGroup", "distinctCount")

  private def day(i: Int) = java.time.Instant.ofEpochMilli(Day0Ms + i * DayMs).toString.take(10)
  private val ts = unix_millis(col("@timestamp"))

  /** Flat host_stats result rows (the shape StreamingAnalytics.hostStats
    * emits) for `slots` timestamps starting at `t0`, every `stepMs`. */
  def hostRows(spark: SparkSession, seed: Long, salt: Long, t0: Long, stepMs: Long,
               slots: Long): DataFrame = {
    def h(parts: Column*) = pmod(xxhash64(lit(seed) +: lit(salt) +: parts: _*), lit(1000000L))
    val id = col("id")
    val host = pmod(id, lit(Hosts.toLong))
    val flags = graft.functions.BitFunctions.tcpFlagNames.zipWithIndex.map { case (n, i) =>
      pmod(h(id, lit(s"f$i")), lit(50L)).as(s"flag_${n.toLowerCase}") }
    spark.range(slots * Hosts).select(Seq(
      concat(lit("10.0."), (host / 256).cast("int"), lit("."), pmod(host, lit(256L))).as("src_ip"),
      (lit(1L) + pmod(h(id, lit("fl")), lit(500L))).as("flows"),
      (lit(1L) + pmod(h(id, lit("pk")), lit(50000L))).as("packets"),
      (lit(100L) + h(id, lit("by"))).as("bytes"),
      round(pmod(h(id, lit("du")), lit(50000L)) / 1000.0d, 4).as("avg_duration_s"),
      pmod(h(id, lit("dp")), lit(300L)).as("dport_count"),
      pmod(h(id, lit("pn")), lit(900L)).as("peer_number"),
      (lit(t0) + (id / Hosts).cast("long") * stepMs).as("ts_ms")) ++ flags: _*)
  }

  /** One dns_statistics data_array document per (day, stat type), for
    * the last [[DnsDays]] days. */
  def dnsDocs(spark: SparkSession, seed: Long): DataFrame =
    (Days - DnsDays until Days).map { d =>
      // 40 distinct keys per stat type, drawn from 60 names by the seed
      val stats = spark.range(4 * 40).select(
        concat(lit("type"), pmod(col("id"), lit(4L))).as("stat_type"),
        concat(lit("name"), pmod((col("id") / 4).cast("long") + pmod(xxhash64(lit(seed), lit(d)), lit(60L)),
          lit(60L))).as("key"),
        (lit(1L) + pmod(xxhash64(lit(seed), lit(d), col("id"), lit("v")), lit(1000L))).as("value"))
      Documents.dataArrayDoc(stats, "dns_statistics", lit(Day0Ms + d * DayMs + 3600000L))
    }.reduce(_ unionByName _)

  def buildStore(spark: SparkSession, seed: Long, dir: Path): Long = {
    val rows = hostRows(spark, seed, 0L, Day0Ms, DayMs / SlotsPerDay, Days.toLong * SlotsPerDay)
    Documents.writeDaily(Documents.hostStatsDoc(rows, col("ts_ms")), dir.resolve("hosts").toString)
    Documents.writeDaily(dnsDocs(spark, seed), dir.resolve("dns").toString)
    rows.count()
  }

  /** One read: the named shape over the day range; returns its rows. */
  def read(spark: SparkSession, store: Path, shape: String, from: String, to: String): DataFrame = {
    def hosts = Documents.readDaily(spark, store.resolve("hosts").toString, from, to)
    shape match {
      case "timeSeries" => ReadSide.timeSeries(hosts, ts, 3600000L, Seq(col("src_ip")),
        Seq(sum("stats.total.bytes").as("bytes")))
      case "totals" => ReadSide.totals(hosts, ts, DayMs,
        Seq(sum("stats.total.bytes").as("bytes"), sum("stats.total.flow").as("flows")))
      case "groupSum" => ReadSide.groupSum(hosts, col("src_ip"), col("stats.total.bytes"))
      case "minAvgMax" => ReadSide.minAvgMax(hosts, ts, 3600000L, col("stats.avg_flow_duration"))
      case "nestedTopN" => ReadSide.nestedTopN(
        Documents.readDaily(spark, store.resolve("dns").toString, from, to), 10)
      case "latestPerGroup" => ReadSide.latestPerGroup(hosts, Seq(col("src_ip")), ts,
        col("stats.total.bytes")).select(col("src_ip"), ts.as("ts"), col("stats.total.bytes").as("bytes"))
      case "distinctCount" => ReadSide.distinctCount(hosts, col("day"), col("src_ip"))
    }
  }

  /** The same seven answers, written independently as plain SQL. */
  def referenceSql(shape: String): String = {
    val h = "(SELECT *, unix_millis(`@timestamp`) AS ts FROM hosts)"
    shape match {
      case "timeSeries" => s"SELECT ts - pmod(ts, 3600000) AS bucket_ms, src_ip, " +
        s"sum(stats.total.bytes) AS bytes FROM $h GROUP BY 1, 2"
      case "totals" => s"SELECT sum(stats.total.bytes) AS bytes, sum(stats.total.flow) AS flows " +
        s"FROM $h WHERE ts >= (SELECT max(ts) FROM $h) - 86400000"
      case "groupSum" => "SELECT src_ip AS key, sum(stats.total.bytes) AS value FROM hosts " +
        "GROUP BY src_ip ORDER BY value DESC, key ASC"
      case "minAvgMax" => s"SELECT ts - pmod(ts, 3600000) AS bucket_ms, min(stats.avg_flow_duration) AS min, " +
        s"round(avg(stats.avg_flow_duration), 4) AS avg, max(stats.avg_flow_duration) AS max FROM $h GROUP BY 1"
      case "nestedTopN" => "SELECT stat_type, key, value, rank FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY stat_type ORDER BY value DESC, key ASC) AS rank FROM (SELECT `@stat_type` AS " +
        "stat_type, kv.key AS key, sum(kv.value) AS value FROM dns LATERAL VIEW explode(data_array) t " +
        "AS kv GROUP BY 1, 2)) WHERE rank <= 10"
      case "latestPerGroup" => s"SELECT src_ip, ts, bytes FROM (SELECT src_ip, ts, stats.total.bytes AS bytes, " +
        s"row_number() OVER (PARTITION BY src_ip ORDER BY ts DESC, stats.total.bytes DESC) AS rn " +
        s"FROM $h) WHERE rn = 1"
      case "distinctCount" => "SELECT day AS key, count(DISTINCT src_ip) AS value FROM hosts GROUP BY day"
    }
  }

  private def rowsOf(df: DataFrame, ordered: Boolean): Seq[String] = {
    val r = df.collect().toSeq.map(_.toSeq.mkString("|"))
    if (ordered) r else r.sorted
  }

  /** Scan nodes' file and partition counts from an executed plan. */
  private def scanMetric(df: DataFrame, name: String): Double = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case p if p.metrics.contains(name) && p.nodeName.contains("Scan") => p.metrics(name).value
    }.sum.toDouble
  }

  def run(a: Args, rec: Record, tr: Tracer): Unit = {
    val root = Path.of(a.work)
    var spark: SparkSession = null
    var rows0 = 0L
    Harness.phase("set-up")
    val setups = (0 until 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = Harness.nowMs
      spark = Graft.session()
      rows0 = buildStore(spark, a.seed, root.resolve(s"store$i"))
      (Harness.nowMs - t0) / 1000.0
    }
    rec.e("setup_s", Stats.median(setups), "s")
    Streams.stampSession(spark, rec)
    val store = root.resolve("store2")

    // warm-up, untimed: a long-running dashboard has compiled every shape
    // and the append path; a fresh JVM would pay that inside the loop
    Harness.phase("warm-up")
    Harness.inParallel(shapes.map(s => () => {
      Harness.kind(spark, "warmup")
      read(spark, store, s, day(Days - 1), day(Days - 1)).collect(); ()
    }) :+ (() => Documents.writeDaily(Documents.hostStatsDoc(
      hostRows(spark, a.seed, -1L, Day0Ms, 1000L, 1L), col("ts_ms")),
      root.resolve("store1").resolve("hosts").toString)))
    val clients = math.min(2, Runtime.getRuntime.availableProcessors())
    rec.stamps("clients") = clients
    val next = new AtomicInteger()
    val rotation = FlowGen.rng(a.seed, 4, 0).nextInt(shapes.size)
    val appended = new AtomicLong()

    /** One closed loop of `clients` threads for the run's length. */
    final class Loop(traced: Boolean) {
      val lat = mutable.Map(shapes.map(_ -> mutable.ArrayBuffer[Double]()): _*)
      val writes = mutable.ArrayBuffer[Double]()
      val planMs, execMs, filesScanned, partsFrac, filesAdded = mutable.ArrayBuffer[Double]()
      private val t0 = Harness.nowMs
      private val deadline = t0 + a.seconds * 1000.0

      /** Runs operation `i`; true when it was a read. */
      private def op(i: Int): Boolean = {
        val r = FlowGen.rng(a.seed, 3, i)
        if (i % WriteEvery == WriteEvery - 1) {
          Harness.kind(spark, "write")
          val before = if (traced) Harness.dataFiles(store.resolve("hosts")).size else 0
          val s = Harness.nowMs
          val batch = hostRows(spark, a.seed, i + 1L, Day0Ms + (Days - 1) * DayMs + r.nextInt(80000000), 1000L, 1L)
          tr.span("results.write")(Documents.writeDaily(Documents.hostStatsDoc(batch, col("ts_ms")),
            store.resolve("hosts").toString))
          val ms = Harness.nowMs - s
          appended.addAndGet(Hosts)
          writes.synchronized { writes += ms
            if (traced) filesAdded += Harness.dataFiles(store.resolve("hosts")).size - before }
          false
        } else {
          Harness.kind(spark, "read")
          // the mix is stratified, so every run of any length sees the same
          // shares: shapes in turn (seeded rotation), one read in five over
          // the whole store, the others over the last 1-3 days (seeded)
          val j = i - i / WriteEvery
          val shape = shapes((j + rotation) % shapes.size)
          val span = if ((j / shapes.size) % 5 == 0) Days else 1 + r.nextInt(3)
          val s = Harness.nowMs
          val df = tr.span("results.read")(read(spark, store, shape, day(Days - span), day(Days - 1)))
          if (traced) {
            tr.span(s"queries.plan.$shape")(df.queryExecution.executedPlan)
            val p = Harness.nowMs
            tr.span("spark.exec")(df.collect())
            val e = Harness.nowMs
            val fs = scanMetric(df, "numFiles"); val np = scanMetric(df, "numPartitions")
            writes.synchronized {
              planMs += p - s; execMs += e - p; filesScanned += fs; partsFrac += np / Days }
          } else df.collect()
          val ms = Harness.nowMs - s
          lat(shape).synchronized(lat(shape) += ms)
          true
        }
      }

      // per client: reads completed and the time its last operation ended
      private val clientRates = mutable.ArrayBuffer[Double]()

      Harness.inParallel((0 until clients).map(_ => () => {
        var i = next.getAndIncrement()
        var done = 0
        while (Harness.nowMs < deadline) {
          rec.attempted.incrementAndGet()
          try if (tr.span("bench.op")(op(i))) done += 1
          catch { case e: Exception =>
            rec.failed.incrementAndGet()
            rec.failures.synchronized(rec.failures += s"op $i: ${e.getMessage.take(300)}")
          }
          i = next.getAndIncrement()
        }
        val ms = Harness.nowMs - t0
        clientRates.synchronized(clientRates += done / (ms / 1000.0))
      }))
      val wallMs = Harness.nowMs - t0
      val reads = lat.values.flatten.toSeq
      /** Reads per second, summed over clients: each client's count over
        * its own time, so a client idle while the other finishes its last
        * operation past the deadline does not count as slow. */
      def perSec: Double = clientRates.sum
    }

    Harness.phase("closed loop")
    val loop = new Loop(traced = false)
    val reads = loop.reads
    rec.e("throughput_per_s", loop.perSec, "1/s")
    rec.e("latency_p50_ms", Stats.median(reads), "ms")
    rec.n("queries_per_s", loop.perSec, "1/s", reads.size)
    rec.n("query_latency_p50_ms", Stats.median(reads), "ms", reads.size)
    Stats.pct(reads, 95).foreach(rec.n("query_latency_p95_ms", _, "ms", reads.size))
    if (loop.writes.nonEmpty) rec.n("write_latency_p50_ms", Stats.median(loop.writes), "ms", loop.writes.size)

    if (a.trace) {
      Harness.phase("traced closed loop")
      val meter = new TaskMeter
      spark.sparkContext.addSparkListener(meter)
      tr.enabled = true
      val t = new Loop(traced = true)
      rec.overhead(t.perSec, Stats.median(t.reads))
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      rec.l("results.read.plan_ms", med(t.planMs.toSeq), "ms")
      rec.l("results.read.exec_ms", med(t.execMs.toSeq), "ms")
      rec.l("results.read.bytes_read", meter.tally("read").bytesRead.get.toDouble / math.max(1, t.reads.size), "B")
      rec.l("results.read.files_scanned", med(t.filesScanned.toSeq), "count")
      rec.l("results.read.partitions_frac", med(t.partsFrac.toSeq), "ratio")
      rec.l("results.write.files_added", med(t.filesAdded.toSeq), "count")
      rec.l("results.store.files_end", Harness.dataFiles(store).size.toDouble, "count")
      shapes.foreach(s => rec.l(s"queries.$s.latency_p50_ms", med(t.lat(s).toSeq), "ms"))
      meter.report(rec, Seq("read"), t.reads.size, t.wallMs, Runtime.getRuntime.availableProcessors())
    }

    Harness.phase("gates: store rows, ReadSide == reference SQL")
    Harness.kind(spark, "check")
    val total = Documents.readDaily(spark, store.resolve("hosts").toString, day(0), day(Days)).count()
    rec.gate("final store rows == initial + appended", total == rows0 + appended.get,
      s"$total != $rows0 + ${appended.get}")
    val pristine = root.resolve("store0") // same seed, never appended to
    spark.read.parquet(pristine.resolve("hosts").toString).createOrReplaceTempView("hosts")
    spark.read.parquet(pristine.resolve("dns").toString).createOrReplaceTempView("dns")
    Harness.inParallel(shapes.map { s => () =>
      val ordered = s == "groupSum"
      try {
        Harness.kind(spark, "check")
        val got = rowsOf(read(spark, pristine, s, day(0), day(Days - 1)), ordered)
        val want = rowsOf(spark.sql(referenceSql(s)), ordered)
        rec.gate(s"ReadSide.$s == reference SQL", got == want && got.nonEmpty,
          s"${got.size} rows vs ${want.size}; first diff ${got.zipAll(want, "", "").find(p => p._1 != p._2)}")
      } catch {
        case e: Exception => rec.gate(s"ReadSide.$s == reference SQL", ok = false, e.toString)
      }
    })
  }
}
