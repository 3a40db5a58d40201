package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.GraftApp
import graft.core.Graft
import graft.streaming.{FlowSource, StreamingAnalytics}

/** stream_host_stats: GraftApp `host_stats` over generated files.
  *
  * One run = set-up three times (session, query start, cold first batch
  * over the first [[ColdFiles]] files; the median is `setup_s`), then on
  * the last query:
  *  - latency: for the run's length, an open-loop generator writes one
  *    file every 1/[[FilesPerSec]] s; each file's latency runs from when
  *    it was due to the end of the micro-batch that consumed it;
  *  - drain: a backlog of [[DrainBatches]] micro-batches written at once;
  *    flows/s from the end of the first micro-batch that reads it to the
  *    end of the last (measured after the latency phase, so on a warm
  *    JVM);
  *  - a traced run repeats both phases traced, on the same query;
  *  - gates: the sink's output against a batch evaluation of the same
  *    analytic over the same files.
  */
object Streams {
  val Analytic = "host_stats"
  /** Files one micro-batch reads: `FlowSource.files`' maxFilesPerTrigger. */
  val FilesPerBatch = 16
  /** Flows per backlog file, so a drain micro-batch holds 16k flows (see
    * perfbench/README.md for why this size). */
  val BacklogFlowsPerFile = 1000
  val DrainBatches = 4
  /** The offered rate, a fixed constant well under the drain rate:
    * [[FilesPerSec]] files of [[LatFlowsPerFile]] flows each second. */
  val FilesPerSec = 4.0
  val LatFlowsPerFile = 500
  /** Files in the cold first batch: few, as a batch's cost is mostly
    * fixed (with no rows one took 1.6 s, with 8000 flows 2.5 s). */
  val ColdFiles = 2

  /** Every executed micro-batch's progress, for the measured query. */
  final class ProgressLog extends StreamingQueryListener {
    import StreamingQueryListener._
    private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.durationMs.containsKey("addBatch")) buf.synchronized {
        buf += e.progress; buf.notifyAll()
      }
    def batches: Seq[StreamingQueryProgress] = buf.synchronized(buf.toList)
    def await(timeoutMs: Long)(done: Seq[StreamingQueryProgress] => Boolean): Boolean = {
      val until = System.currentTimeMillis() + timeoutMs
      buf.synchronized {
        while (!done(buf.toList) && System.currentTimeMillis() < until)
          buf.wait(math.max(1L, until - System.currentTimeMillis()))
        done(buf.toList)
      }
    }
  }

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** One round's figures: the latency phase, then the drain. */
  final case class Round(flowsPerS: Double, intervals: Int, lat: Seq[Double], late: Seq[Double],
                         lagEnd: Long, flows: Long, batches: Seq[StreamingQueryProgress])

  def run(a: Args, rec: Record, tr: Tracer): Unit = {
    val root = Path.of(a.work)
    val latFiles = math.max(8, math.round(a.seconds * FilesPerSec).toInt)
    // a round = latFiles arriving open-loop, then the backlog all at once;
    // a traced run adds a traced round after the untraced one
    val roundFiles = latFiles + DrainBatches * FilesPerBatch
    val rounds = if (a.trace) 2 else 1
    val total = ColdFiles + rounds * roundFiles
    val flowsIn = (0 until total).map(i =>
      if (i >= ColdFiles && (i - ColdFiles) % roundFiles < latFiles) LatFlowsPerFile else BacklogFlowsPerFile)
    val firstFlow = flowsIn.scanLeft(0L)(_ + _)
    // generation is not part of any timing
    val files = (0 until total).map(i => FlowGen.hostFile(a.seed, i, firstFlow(i), flowsIn(i)))
    val prefix = files.map(FlowGen.rows(_).toLong).scanLeft(0L)(_ + _) // prefix(i) = rows in files < i
    rec.stamps("offered_flows_per_s") = FilesPerSec * LatFlowsPerFile
    rec.stamps("backlog_flows") = DrainBatches * FilesPerBatch * BacklogFlowsPerFile

    def cfg(d: Path) = GraftApp.Config(analytic = Analytic,
      inputJson = Some(d.resolve("in").toString), output = d.resolve("out").toString,
      checkpoint = d.resolve("ckpt").toString, window = "10 seconds", slide = Some("5 seconds"))
    def drop(d: Path, from: Int, until: Int): Unit = {
      val base = System.currentTimeMillis() - (until - from)
      for (f <- from until until)
        FlowGen.drop(d.resolve("in"), d.resolve("stage"), f"f$f%06d.json", files(f), base + f - from)
    }

    Harness.phase("set-up")
    var spark: SparkSession = null
    var q: StreamingQuery = null
    var log: ProgressLog = null
    val setups = (0 until 3).map { i =>
      val d = root.resolve(s"setup$i")
      Files.createDirectories(d.resolve("in")); Files.createDirectories(d.resolve("stage"))
      drop(d, 0, ColdFiles)
      if (q != null) { q.stop(); spark.stop() }
      val t0 = System.currentTimeMillis()
      spark = Graft.session()
      log = new ProgressLog
      spark.streams.addListener(log)
      q = GraftApp.build(spark, cfg(d))
      val ok = log.await(120000)(_.nonEmpty)
      rec.gate("cold first batch committed", ok, s"setup $i")
      if (!ok) throw new IllegalStateException("query made no progress")
      (endMs(log.batches.head) - t0) / 1000.0
    }
    rec.e("setup_s", Stats.median(setups), "s")
    val d = root.resolve("setup2")
    val in = d.resolve("in"); val stage = d.resolve("stage")
    stampSession(spark, rec)
    rec.gate("first batch read whole cold files", log.batches.head.numInputRows == prefix(ColdFiles),
      s"${log.batches.head.numInputRows} rows for ${prefix(ColdFiles)}")
    def read(bs: Seq[StreamingQueryProgress]): Long = bs.map(_.numInputRows).sum
    def consumed(nFiles: Int)(bs: Seq[StreamingQueryProgress]): Boolean = read(bs) >= prefix(nFiles)

    def round(r: Int): Round = {
      val start = ColdFiles + r * roundFiles
      val latEnd = start + latFiles // files [start, latEnd) arrive open-loop
      val end = start + roundFiles
      // a batch that moved the watermark is followed by a no-data batch:
      // start the open loop after that batch, not behind it
      log.await(5000)(_.last.numInputRows == 0)
      val before = log.batches.size
      Harness.phase(s"round $r latency phase: open loop at a fixed offered rate")
      val periodMs = 1000.0 / FilesPerSec
      val due = new Array[Long](latFiles)
      val late = new Array[Double](latFiles)
      val phaseStart = System.currentTimeMillis() + 200
      var lastMtime = 0L
      for (j <- 0 until latFiles) {
        due(j) = phaseStart + math.round(j * periodMs)
        val wait = due(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        tr.span("gen.write") {
          lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
          FlowGen.drop(in, stage, f"f${start + j}%06d.json", files(start + j), lastMtime)
        }
        late(j) = (System.currentTimeMillis() - due(j)).toDouble
      }
      val phaseEnd = System.currentTimeMillis()
      val lagEnd = prefix(latEnd) - read(log.batches.filter(endMs(_) <= phaseEnd))
      val allIn = log.await(60000)(consumed(latEnd))
      rec.gate("latency phase consumed", allIn, s"${read(log.batches)} of ${prefix(latEnd)}")

      // the backlog lands at once; timing runs from the end of the first
      // micro-batch that reads it to the end of the last
      Harness.phase(s"round $r drain")
      Thread.sleep(100)
      drop(d, latEnd, end)
      val drained = log.await(150000)(consumed(end))
      rec.gate("backlog drained", drained, s"${read(log.batches)} of ${prefix(end)}")
      val bs = log.batches
      val cum = bs.map(_.numInputRows).scanLeft(0L)(_ + _).tail
      // the cumulative row count must land on a file boundary, or the
      // file -> batch mapping below would be wrong
      rec.gate("batches cover whole files", cum.forall(prefix.toSet), cum.toString)
      def batchOf(nFiles: Int): Option[Int] = bs.indices.find(i => cum(i) >= prefix(nFiles))
      val (first, last) = (batchOf(latEnd + 1).getOrElse(0), batchOf(end).getOrElse(bs.size - 1))
      val flowsPerS = (prefix(end) - cum(first)) / ((endMs(bs(last)) - endMs(bs(first))) / 1000.0)
      val lat = (0 until latFiles).flatMap(j =>
        batchOf(start + j + 1).map(i => (endMs(bs(i)) - due(j)).toDouble))
      rec.gate("every file's batch found", lat.size == latFiles, s"${lat.size} of $latFiles")
      Round(flowsPerS, last - first, lat, late.toSeq, lagEnd, prefix(end) - prefix(start),
        bs.slice(before, last + 1))
    }

    val base = round(0)
    rec.e("throughput_per_s", base.flowsPerS, "1/s")
    rec.n("flows_per_s", base.flowsPerS, "1/s", base.intervals)
    val p50 = Stats.median(base.lat)
    rec.e("latency_p50_ms", p50, "ms")
    rec.n("commit_latency_p50_ms", p50, "ms", base.lat.size)
    Stats.pct(base.lat, 95).foreach(rec.n("commit_latency_p95_ms", _, "ms", base.lat.size))

    if (a.trace) {
      val meter = new TaskMeter
      spark.sparkContext.addSparkListener(meter)
      tr.enabled = true
      val t = round(1)
      rec.overhead(t.flowsPerS, Stats.median(t.lat))

      // per-layer figures, from the progress events of the traced round
      val bs = t.batches
      val data = bs.filter(_.numInputRows > 0)
      def med(f: StreamingQueryProgress => Double) =
        if (data.isEmpty) 0.0 else Stats.median(data.map(f))
      rec.l("streaming.batches", data.size.toDouble, "count")
      rec.l("streaming.batch.add_ms", med(dur(_, "addBatch").toDouble), "ms")
      rec.l("streaming.batch.planning_ms", med(dur(_, "queryPlanning").toDouble), "ms")
      rec.l("streaming.batch.offsets_ms", med(b => (dur(b, "latestOffset") + dur(b, "getBatch")).toDouble), "ms")
      rec.l("streaming.batch.log_ms", med(b => (dur(b, "walCommit") + dur(b, "commitOffsets")).toDouble), "ms")
      val gaps = bs.sliding(2).collect { case Seq(x, y) => (startMs(y) - endMs(x)).toDouble }.toSeq
      rec.l("streaming.batch.idle_ms", if (gaps.isEmpty) 0.0 else Stats.median(gaps), "ms")
      rec.l("streaming.input_rows_per_flow", read(bs).toDouble / t.flows, "ratio")
      rec.l("streaming.lag_end_flows", t.lagEnd.toDouble, "count")
      rec.l("gen.late_ms_p95", Stats.pct(t.late, 95).getOrElse(t.late.max), "ms")
      val ops = (b: StreamingQueryProgress) => b.stateOperators.toSeq
      rec.l("streaming.state.rows_total", ops(bs.last).map(_.numRowsTotal).sum.toDouble, "count")
      rec.l("streaming.state.memory_bytes", ops(bs.last).map(_.memoryUsedBytes).sum.toDouble, "B")
      rec.l("streaming.state.rows_removed", bs.flatMap(ops).map(_.numRowsRemoved).sum.toDouble, "count")
      rec.l("streaming.state.commit_ms", med(ops(_).map(_.commitTimeMs).sum.toDouble), "ms")
      rec.l("streaming.state.stores", ops(bs.last).map(_.numStateStoreInstances.toLong).sum.toDouble, "count")
      rec.l("streaming.state.rows_dropped_late",
        bs.flatMap(ops).map(_.numRowsDroppedByWatermark).sum.toDouble, "count")

      val phases = Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
      val nsOff = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val runSpan = tr.add(0, 0, "bench.stream", startMs(bs.head) * 1000000L + nsOff, System.nanoTime())
      data.foreach { b =>
        val s = startMs(b) * 1000000L + nsOff
        val id = tr.add(runSpan, runSpan, "streaming.batch", s, s + dur(b, "triggerExecution") * 1000000L)
        phases.foldLeft(s) { (t, ph) =>
          val e = t + dur(b, ph) * 1000000L
          tr.add(runSpan, id, s"streaming.phase.$ph", t, e); e
        }
      }
      val wallMs = (endMs(bs.last) - startMs(bs.head)).toDouble
      meter.report(rec, Seq("stream"), data.size, wallMs, Runtime.getRuntime.availableProcessors())
    }
    val dropped = log.batches.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    rec.gate("late rows dropped by the watermark", dropped > 0, "no late row was dropped")

    Harness.phase("gates: sink output == batch evaluation over the same files")
    q.stop()
    // the query's own progress record, not the (asynchronous) listener's
    val executed = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
    Harness.kind(spark, "check")
    val outFiles = Harness.dataFiles(d.resolve("out"))
    val nBatches = math.max(1, executed.length)
    rec.l("streaming.sink.files_per_batch", outFiles.size.toDouble / nBatches, "count")
    rec.l("streaming.sink.bytes_per_batch", outFiles.map(Files.size(_)).sum.toDouble / nBatches, "B")
    val flows = FlowSource.parse(spark.read.text(in.toString))
    val out = spark.read.parquet(d.resolve("out").toString)
    // every window the last recorded batch's watermark closed has been
    // emitted; the sink may also hold windows a batch interrupted by the
    // stop committed, so both sides are cut at that watermark
    val closed = col("window.end") <= to_timestamp(lit(executed.last.eventTime.get("watermark")))
    val expected = StreamingAnalytics.hostStats(
        FlowSource.withEventTime(flows.filter(col("start_ms") >= FlowGen.T0 - FlowGen.LateMs)),
        "10 seconds", "5 seconds")
      .filter(closed)
    same(rec, "host_stats sink == batch hostStats", expected,
      out.filter(closed).select(expected.columns.map(col): _*))

    if (a.trace) { // parse layer alone: one batch call over the same files
      Harness.kind(spark, "parse")
      def parseOnce(): Double = {
        val t0 = Harness.nowMs
        tr.span("streaming.parse")(FlowSource.parse(spark.read.text(in.toString))
          .write.format("noop").mode("overwrite").save())
        Harness.nowMs - t0
      }
      parseOnce()
      rec.l("streaming.parse.flows_per_s", prefix(total) / (parseOnce() / 1000.0), "1/s")
    }
  }

  /** Gate: equal as multisets of rows (compared by a 64-bit hash of
    * each row; on a mismatch the differing rows are reported). */
  def same(rec: Record, name: String, expected: DataFrame, actual: DataFrame): Unit = {
    def hashes(df: DataFrame) =
      df.select(xxhash64(df.columns.map(col): _*)).collect().map(_.getLong(0)).sorted.toSeq
    val (e, x) = (hashes(expected), hashes(actual))
    lazy val detail = s"${e.size} expected rows, ${x.size} in the sink; missing e.g. " +
      s"${expected.exceptAll(actual).take(2).mkString(" ")}; unexpected e.g. " +
      s"${actual.exceptAll(expected).take(2).mkString(" ")}"
    rec.gate(name, e == x && e.nonEmpty, detail)
  }

  def stampSession(spark: SparkSession, rec: Record): Unit = {
    val c = spark.conf
    rec.stamps("spark_master") = spark.sparkContext.master
    rec.stamps("spark_version") = spark.version
    rec.stamps("shuffle_partitions") = c.get("spark.sql.shuffle.partitions")
    rec.stamps("state_provider") = c.get("spark.sql.streaming.stateStore.providerClass")
    rec.stamps("default_parallelism") = spark.sparkContext.defaultParallelism
  }
}
