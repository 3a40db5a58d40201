package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core.Graft
import graft.streaming.{FlowSource, ResultSink, StreamingAnalytics}

/** Runnable streaming application — the analog of the reference's
  * spark-submitted apps (run-application.sh.j2 + per-app argparse mains).
  *
  * One configurable main replaces the 13 Python entrypoints: pick the
  * analytic by name, the source (a Kafka topic or a JSON file directory),
  * and the parquet output/checkpoint paths. Example:
  *
  * {{{
  * spark-submit --class graft.GraftApp graft.jar \
  *   --analytic protocol_statistics --input-json /data/flows \
  *   --output /results/protocols --checkpoint /ckpt/protocols \
  *   --window "10 seconds"
  * }}}
  */
object GraftApp {

  final case class Config(
      analytic: String = "protocol_statistics",
      inputJson: Option[String] = None,
      kafka: Option[(String, String)] = None, // bootstrap, topic
      output: String = "out",
      checkpoint: String = "ckpt",
      window: String = "10 seconds",
      slide: Option[String] = None,
      watermark: String = "30 seconds",
      tlsDict: Option[String] = None, // ;-separated CSV (reference S5 shape)
      config: Option[String] = None,  // pattern_finder YAML (reference S7)
      dnsServers: Seq[String] = Nil,  // reflect_ddos watch list (-dns arg)
      dstPattern: String = ".*",      // ddos network filter regex (-nf arg)
      ratioIncrease: Double = 50.0,   // ddos threshold (detection_ddos.py:186)
      minPackets: Long = 100000L,     // ddos minimal_incoming (:187)
      stateTtlMs: Long = 86400000L,   // ddos profile expiry, event time (1 day)
      reflectRatio: Double = 3.0,     // reflect_ddos threshold_change (reflectdos_main.py:186)
      minReplies: Long = 10L,         // reflect_ddos minimal_replies (:185)
      observe: Boolean = false)       // per-batch in/out counters and state on the stream

  /** Load the reference-format classifier CSV:
    * suites;device;os;application;browser (tls_classification.py:44-83). */
  def loadTlsDict(path: String): Seq[graft.analytics.TlsClassification.DictEntry] =
    scala.util.Using.resource(scala.io.Source.fromFile(path)) { src =>
      src.getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val p = l.split(";", -1)
          graft.analytics.TlsClassification.DictEntry(p(0), p(1), p(2), p(3), p(4))
        }.toList
    }

  /** Analytic name → streaming transform over a flow stream. */
  def analytic(c: Config): DataFrame => DataFrame = c.analytic match {
    case "protocol_statistics" =>
      StreamingAnalytics.protocolStatistics(_, c.window, c.slide, c.watermark)
    case "host_stats" =>
      StreamingAnalytics.hostStats(_, c.window,
        c.slide.getOrElse(c.window), c.watermark)
    case "host_daily_profile" =>
      StreamingAnalytics.dailyProfile(_, c.watermark)
    case "top_n_host_stats" =>
      StreamingAnalytics.topNHostStats(_, c.window, c.watermark)
    case "dns_statistics" =>
      StreamingAnalytics.dnsStatistics(_, c.window, c.watermark)
    case "dns_external_resolvers" =>
      StreamingAnalytics.externalResolvers(_, watermark = c.watermark)
    case "biflow_pairs" =>
      StreamingAnalytics.biflowPairs(_, watermark = c.watermark)
    case "ports_scan" =>
      StreamingAnalytics.portScanReports(_, watermark = c.watermark).toDF()
    case "ssh_auth" =>
      StreamingAnalytics.sshAuthReports(_, watermark = c.watermark).toDF()
    case "dns_open_resolvers" =>
      StreamingAnalytics.openResolvers(_, c.window, c.watermark)
    case "tls_classification" =>
      val dict = loadTlsDict(c.tlsDict.getOrElse(
        throw new IllegalArgumentException("tls_classification needs --tls-dict")))
      StreamingAnalytics.tlsClassification(_, dict, c.window, c.watermark)
    case "pattern_finder" =>
      // YAML-driven (reference S7): filters, biflow vectors, patterns and
      // the report window all come from the configuration file
      val cfg = graft.analytics.PatternConfig.load(c.config.getOrElse(
        throw new IllegalArgumentException("pattern_finder needs --config <yaml>")))
      graft.analytics.PatternConfig.streamingReports(_, cfg, c.watermark).toDF()
    case "ddos" =>
      StreamingAnalytics.ddosKeyedState(_, c.dstPattern,
        c.ratioIncrease, c.minPackets, c.stateTtlMs, c.watermark).toDF()
    case "reflect_ddos" =>
      if (c.dnsServers.isEmpty)
        throw new IllegalArgumentException("reflect_ddos needs --dns-servers a,b,c")
      StreamingAnalytics.reflectDdos(_, c.dnsServers,
        ratioThreshold = c.reflectRatio, minReplies = c.minReplies,
        window = c.window, watermark = c.watermark)
    case "host_cardinality" =>
      // emits the HLL sketch binary next to the estimate — the sink's
      // dated parquet IS a persisted sketch layer (graft.scale.Sketches)
      StreamingAnalytics.hostCardinality(_, c.window, c.watermark)
    case other =>
      throw new IllegalArgumentException(
        s"unknown analytic '$other'; known: protocol_statistics host_stats " +
          "host_daily_profile top_n_host_stats dns_statistics " +
          "dns_external_resolvers dns_open_resolvers tls_classification " +
          "biflow_pairs ports_scan ssh_auth pattern_finder ddos " +
          "reflect_ddos host_cardinality")
  }

  /** Build (not start) the full source → analytic → sink query. */
  def build(spark: SparkSession, c: Config): StreamingQuery = {
    val flows = (c.inputJson, c.kafka) match {
      case (Some(dir), _) => FlowSource.files(spark, dir)
      case (_, Some((bootstrap, topic))) => FlowSource.kafka(spark, bootstrap, topic)
      case _ => throw new IllegalArgumentException("need --input-json or --kafka")
    }
    // --observe: flow-in / report-out counters ride the micro-batch as
    // CollectMetrics (graft.scale.Observe model — zero extra jobs; the
    // reference logged the same numbers with a per-batch driver count),
    // surfaced in StreamingQueryProgress.observedMetrics
    import org.apache.spark.sql.functions.{count, lit}
    val srcObs = if (!c.observe) flows
      else flows.observe("flows_in", count(lit(1)).as("rows"))
    val result = analytic(c)(srcObs)
    val resObs = if (!c.observe) result
      else result.observe("reports_out", count(lit(1)).as("rows"))
    ResultSink.parquet(ResultSink.tagged(resObs, c.analytic),
      c.output, c.checkpoint).start()
  }

  def parse(args: Array[String]): Config = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--analytic" :: v :: t    => loop(t, c.copy(analytic = v))
      case "--input-json" :: v :: t  => loop(t, c.copy(inputJson = Some(v)))
      case "--kafka" :: b :: topic :: t => loop(t, c.copy(kafka = Some((b, topic))))
      case "--output" :: v :: t      => loop(t, c.copy(output = v))
      case "--checkpoint" :: v :: t  => loop(t, c.copy(checkpoint = v))
      case "--window" :: v :: t      => loop(t, c.copy(window = v))
      case "--slide" :: v :: t       => loop(t, c.copy(slide = Some(v)))
      case "--watermark" :: v :: t   => loop(t, c.copy(watermark = v))
      case "--tls-dict" :: v :: t    => loop(t, c.copy(tlsDict = Some(v)))
      case "--config" :: v :: t      => loop(t, c.copy(config = Some(v)))
      case "--dns-servers" :: v :: t => loop(t, c.copy(dnsServers = v.split(",").toSeq))
      case "--dst-pattern" :: v :: t => loop(t, c.copy(dstPattern = v))
      case "--ratio-increase" :: v :: t => loop(t, c.copy(ratioIncrease = v.toDouble))
      case "--min-packets" :: v :: t => loop(t, c.copy(minPackets = v.toLong))
      case "--state-ttl-ms" :: v :: t => loop(t, c.copy(stateTtlMs = v.toLong))
      case "--reflect-ratio" :: v :: t => loop(t, c.copy(reflectRatio = v.toDouble))
      case "--min-replies" :: v :: t => loop(t, c.copy(minReplies = v.toLong))
      case "--observe" :: t          => loop(t, c.copy(observe = true))
      case Nil => c
      case other :: _ => throw new IllegalArgumentException(s"unknown arg $other")
    }
    loop(args.toList, Config())
  }

  /** The `--observe` stderr line for one micro-batch: the flow-in and
    * report-out counters, and the state stores and commit time summed over
    * the query's stateful operators. None when the batch carries neither. */
  def observeLine(p: StreamingQueryProgress): Option[String] = {
    val m = p.observedMetrics
    val counters = Seq("flows_in", "reports_out").flatMap(k =>
      Option(m.get(k)).map(r => s"$k=${r.getAs[Long]("rows")}"))
    val ops = p.stateOperators.toSeq
    val state = if (ops.isEmpty) Nil else Seq(
      s"state_stores=${ops.map(_.numStateStoreInstances).sum}",
      s"state_commit_ms=${ops.map(_.commitTimeMs).sum}")
    val shown = counters ++ state
    if (shown.isEmpty) None
    else Some(s"[observe] batch=${p.batchId} ${shown.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val spark = Graft.session(s"graft-${c.analytic}")
    if (c.observe) spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          observeLine(e.progress).foreach(System.err.println)
      })
    build(spark, c).awaitTermination()
  }
}
