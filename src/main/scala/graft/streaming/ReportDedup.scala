package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Cross-batch report deduplication state (SURVEY.md §2.6 ST1/ST2).
  *
  * Reference: ports_scan.py:56-77,109-141 (+ ssh_auth_simple.py:61-81,
  * dns_external_resolvers.py:49-69) — a driver-global dict keyed by attack
  * id holding (last_logged, flows_total): re-report only when a window has
  * passed, emit the increment since the last report, GC idle entries.
  *
  * Spark-first: partitioned keyed state via [[keyed]] — nothing
  * driver-global, checkpointable (the reference lost all state on
  * restart), expiry on event time instead of a wall-clock sweep.
  */
object ReportDedup {

  /** The one keyed-state wiring of the stateful detectors: ports_scan and
    * ssh_auth ([[apply]]), pattern_finder ([[patterns]]) and ddos
    * ([[StreamingAnalytics.ddosKeyedState]]).
    *
    * It watermarks `event_time`, unless the column already carries a
    * watermark (pattern_finder's biflow join sets one, and Spark rejects
    * a second downstream of it), and hands the typed rows to
    * `flatMapGroupsWithState` with the watermarked timestamp intact (the
    * [[graft.queries.Funnel.stream]] pattern: a cast to long would strip
    * the watermark), under an event-time timeout. Rows at or behind the
    * watermark are dropped before `step` sees them. `step` folds one
    * key's batch (it must consume `rows`) into its state and returns the
    * new state and the rows to emit. A key's state expires once the
    * watermark passes `horizonMs` beyond the latest event of the key's
    * last batch: the reference swept its driver dicts on the wall clock
    * instead, so its expiry could not replay, and a processing-time
    * timeout here would run an empty micro-batch after every batch. */
  private[streaming] def keyed[O, S: Encoder, R: Encoder](
      obs: Dataset[O], watermark: String, horizonMs: Long)(
      key: O => String, eventTime: O => Timestamp)(
      step: (String, Option[S], Iterator[O]) => (S, Iterator[R])): Dataset[R] = {
    require(horizonMs > 0, s"state expiry horizon must be positive, got $horizonMs ms")
    import obs.sparkSession.implicits._
    val marked = obs.schema("event_time").metadata.contains(EventTimeWatermark.delayKey)
    (if (marked) obs else obs.withWatermark("event_time", watermark))
      .groupByKey(key)
      .flatMapGroupsWithState[S, R](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var lastMs = Long.MinValue
            val (next, out) = step(k, state.getOption,
              rows.map { o => lastMs = math.max(lastMs, eventTime(o).getTime); o })
            state.update(next)
            // the watermark may already be past a late-but-kept row's horizon
            state.setTimeoutTimestamp(
              math.max(lastMs + horizonMs, state.getCurrentWatermarkMs()))
            out
          }
      }
  }

  /** A detection observation: key = attack identity (e.g. "src|dst|port"),
    * event_time = the flow's start, flows = flow count in this observation. */
  final case class Observation(key: String, event_time: Timestamp, flows: Long)

  /** Emitted report: cumulative total + increment since previous report. */
  final case class Report(key: String, ts: Long, flows_total: Long,
                          flows_increment: Long)

  final case class DedupState(lastReportTs: Long, flowsTotal: Long,
                              flowsAtLastReport: Long)

  /** Fold one key's new observations into its state.
    * Re-report when ≥ `reportIntervalMs` passed since the last report
    * (reference: "at least one window newer"). */
  private def update(reportIntervalMs: Long)(key: String, prior: Option[DedupState],
                                             rows: Iterator[Observation])
      : (DedupState, Iterator[Report]) = {
    var st = prior.getOrElse(DedupState(Long.MinValue, 0L, 0L))
    val out = Seq.newBuilder[Report]
    for (o <- rows.toSeq.sortBy(_.event_time.getTime); ts = o.event_time.getTime) {
      st = st.copy(flowsTotal = st.flowsTotal + o.flows)
      if (st.lastReportTs == Long.MinValue ||
          ts - st.lastReportTs >= reportIntervalMs) {
        out += Report(key, ts, st.flowsTotal, st.flowsTotal - st.flowsAtLastReport)
        st = st.copy(lastReportTs = ts, flowsAtLastReport = st.flowsTotal)
      }
    }
    (st, out.result().iterator)
  }

  /** Report dedup over a keyed observation stream. A key idle for 10 ×
    * `reportIntervalMs` of event time is dropped and starts from a fresh
    * total when seen again (the reference's daily sweep of entries older
    * than 10 windows, SURVEY ST1). */
  def apply(obs: Dataset[Observation], reportIntervalMs: Long,
            watermark: String = "30 seconds"): Dataset[Report] = {
    implicit val se: Encoder[DedupState] = Encoders.product[DedupState]
    implicit val re: Encoder[Report] = Encoders.product[Report]
    keyed(obs, watermark, 10 * reportIntervalMs)(_.key, _.event_time)(
      update(reportIntervalMs))
  }

  // ----- ST2: pattern_finder distribution carry-over ---------------------

  /** One per-pair pattern observation: key = the reference's result_key
    * ("src-dst"), event_time = the request's start, dist = flattened
    * per-pattern one-hot weighted bin vectors
    * (PatternFinder.patternObservations). */
  final case class PatternObservation(key: String, event_time: Timestamp,
                                      dist: Seq[Long])

  /** Emitted pattern report: `dist` is the cumulative distribution — this
    * report's window sum PLUS every previously REPORTED distribution for
    * the key (sum_with_previous_distributions, pattern_finder.py:280-300:
    * the stored sum only advances when a report fires; throttled
    * detections never fold in). */
  final case class PatternReport(key: String, ts: Long, dist: Seq[Long])

  /** window = distributions accumulated since the last report boundary
    * (tumbling-interval stand-in for the reference's sliding 300 s DStream
    * window); carried = sum of all previously reported distributions. */
  final case class PatternState(lastReportTs: Long, window: Seq[Long],
                                carried: Seq[Long])

  private def elemSum(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    if (a.isEmpty) b else a.lazyZip(b).map(_ + _)

  /** Reference anomaly_filter (pattern_finder.py:256-276) over a flattened
    * distribution: some pattern's left half-sum reaches `limit` and
    * exceeds its right half-sum. */
  private def anomalous(dist: Seq[Long], nBins: Int, mid: Int, limit: Long): Boolean =
    dist.grouped(nBins).exists { d =>
      val left = d.take(mid).sum
      left >= limit && left > d.drop(mid).sum
    }

  /** Pattern-report state update: accumulate the window distribution;
    * at each report boundary test the anomaly filter — on pass, emit the
    * window sum folded into the carried total (the reference's
    * check_if_report + sum_with_previous_distributions), reset the window.
    * The FIRST observation of a key only opens the throttle window — its
    * evidence stays in the accumulating distribution and is not tested
    * (the reference's 300 s window starts collecting before any report
    * decision). A failed boundary check advances the throttle but KEEPS
    * the window, so evidence keeps accumulating toward the limit instead
    * of being discarded. */
  private def updatePatterns(reportIntervalMs: Long, nBins: Int, mid: Int,
                             limit: Long)(
      key: String, prior: Option[PatternState],
      rows: Iterator[PatternObservation]): (PatternState, Iterator[PatternReport]) = {
    var st = prior.getOrElse(PatternState(Long.MinValue, Nil, Nil))
    val out = Seq.newBuilder[PatternReport]
    for (o <- rows.toSeq.sortBy(_.event_time.getTime); ts = o.event_time.getTime) {
      st = st.copy(window = elemSum(st.window, o.dist))
      if (st.lastReportTs == Long.MinValue) {
        st = st.copy(lastReportTs = ts)
      } else if (ts - st.lastReportTs >= reportIntervalMs) {
        if (anomalous(st.window, nBins, mid, limit)) {
          val emitted = elemSum(st.carried, st.window)
          out += PatternReport(key, ts, emitted)
          st = PatternState(ts, Nil, emitted)
        } else st = st.copy(lastReportTs = ts)
      }
    }
    (st, out.result().iterator)
  }

  /** Pattern reports over a keyed observation stream.
    * `nBins`/`mid`/`limit` come from the distribution config
    * (PatternFinder.DistConfig). A key idle for 10 × `reportIntervalMs`
    * of event time is dropped, carried distribution included: SURVEY ST2
    * names only the reference's sweep cadence (hourly), not an age, so
    * the ST1 rule applies. */
  def patterns(obs: Dataset[PatternObservation], reportIntervalMs: Long,
               nBins: Int, mid: Int, limit: Long,
               watermark: String = "30 seconds"): Dataset[PatternReport] = {
    implicit val se: Encoder[PatternState] = Encoders.product[PatternState]
    implicit val re: Encoder[PatternReport] = Encoders.product[PatternReport]
    keyed(obs, watermark, 10 * reportIntervalMs)(_.key, _.event_time)(
      updatePatterns(reportIntervalMs, nBins, mid, limit))
  }
}
