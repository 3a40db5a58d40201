package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Cross-batch report deduplication state (SURVEY.md §2.6 ST1/ST2).
  *
  * Reference: ports_scan.py:56-77,109-141 (+ ssh_auth_simple.py:61-81,
  * dns_external_resolvers.py:49-69) — a driver-global dict keyed by attack
  * id holding (last_logged, flows_total): re-report only when a window has
  * passed, emit the increment since the last report, GC idle entries.
  *
  * Spark-first: partitioned keyed state via flatMapGroupsWithState —
  * nothing driver-global, checkpointable (the reference lost all state on
  * restart), GC via state timeout instead of a daily sweep.
  */
object ReportDedup {

  /** A detection observation: key = attack identity (e.g. "src|dst|port"),
    * ts = event-time ms, flows = flow count in this observation. */
  final case class Observation(key: String, ts: Long, flows: Long)

  /** Emitted report: cumulative total + increment since previous report. */
  final case class Report(key: String, ts: Long, flows_total: Long,
                          flows_increment: Long)

  final case class DedupState(lastReportTs: Long, flowsTotal: Long,
                              flowsAtLastReport: Long)

  /** Flat-map one key's new observations against its state.
    * Re-report when ≥ `reportIntervalMs` passed since the last report
    * (reference: "at least one window newer"). */
  def update(reportIntervalMs: Long, gcMs: Long)(
      key: String, rows: Iterator[Observation],
      state: GroupState[DedupState]): Iterator[Report] = {
    if (state.hasTimedOut) { // GC: reference's daily sweep of stale entries
      state.remove()
      return Iterator.empty
    }
    val obs = rows.toSeq.sortBy(_.ts)
    if (obs.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(DedupState(Long.MinValue, 0L, 0L))
    val out = Seq.newBuilder[Report]
    for (o <- obs) {
      st = st.copy(flowsTotal = st.flowsTotal + o.flows)
      if (st.lastReportTs == Long.MinValue ||
          o.ts - st.lastReportTs >= reportIntervalMs) {
        out += Report(key, o.ts, st.flowsTotal, st.flowsTotal - st.flowsAtLastReport)
        st = st.copy(lastReportTs = o.ts, flowsAtLastReport = st.flowsTotal)
      }
    }
    state.update(st)
    if (gcMs > 0) state.setTimeoutDuration(gcMs)
    out.result().iterator
  }

  /** Wire the state function over a keyed stream. */
  def apply(obs: Dataset[Observation], reportIntervalMs: Long,
            gcMs: Long = 0L): Dataset[Report] = {
    implicit val se: Encoder[DedupState] = Encoders.product[DedupState]
    implicit val re: Encoder[Report] = Encoders.product[Report]
    import obs.sparkSession.implicits._
    val timeout =
      if (gcMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    obs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(update(reportIntervalMs, gcMs))
  }

  // ----- ST2: pattern_finder distribution carry-over ---------------------

  /** One per-pair pattern observation: key = the reference's result_key
    * ("src-dst"), ts = event-time ms, dist = flattened per-pattern one-hot
    * weighted bin vectors (PatternFinder.patternObservations). */
  final case class PatternObservation(key: String, ts: Long, dist: Seq[Long])

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
  def anomalous(dist: Seq[Long], nBins: Int, mid: Int, limit: Long): Boolean =
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
  def updatePatterns(reportIntervalMs: Long, gcMs: Long, nBins: Int,
                     mid: Int, limit: Long)(
      key: String, rows: Iterator[PatternObservation],
      state: GroupState[PatternState]): Iterator[PatternReport] = {
    if (state.hasTimedOut) { // reference: hourly reported_detections sweep
      state.remove()
      return Iterator.empty
    }
    val obs = rows.toSeq.sortBy(_.ts)
    if (obs.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(PatternState(Long.MinValue, Nil, Nil))
    val out = Seq.newBuilder[PatternReport]
    for (o <- obs) {
      st = st.copy(window = elemSum(st.window, o.dist))
      if (st.lastReportTs == Long.MinValue) {
        st = st.copy(lastReportTs = o.ts)
      } else if (o.ts - st.lastReportTs >= reportIntervalMs) {
        if (anomalous(st.window, nBins, mid, limit)) {
          val emitted = elemSum(st.carried, st.window)
          out += PatternReport(key, o.ts, emitted)
          st = PatternState(o.ts, Nil, emitted)
        } else st = st.copy(lastReportTs = o.ts)
      }
    }
    state.update(st)
    if (gcMs > 0) state.setTimeoutDuration(gcMs)
    out.result().iterator
  }

  /** Wire the pattern-report state function over a keyed stream.
    * `nBins`/`mid`/`limit` come from the distribution config
    * (PatternFinder.DistConfig). */
  def patterns(obs: Dataset[PatternObservation], reportIntervalMs: Long,
               nBins: Int, mid: Int, limit: Long,
               gcMs: Long = 0L): Dataset[PatternReport] = {
    implicit val se: Encoder[PatternState] = Encoders.product[PatternState]
    implicit val re: Encoder[PatternReport] = Encoders.product[PatternReport]
    import obs.sparkSession.implicits._
    val timeout =
      if (gcMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    obs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        updatePatterns(reportIntervalMs, gcMs, nBins, mid, limit))
  }
}
