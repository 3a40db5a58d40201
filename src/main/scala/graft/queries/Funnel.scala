package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-conversion funnel over an event stream: step k counts a user
  * only if an event of step k occurred STRICTLY AFTER that user's step
  * k-1 completion (the product-analytics "view → click → purchase"
  * question, with the ordering constraint that separates a funnel from
  * three independent counts).
  *
  * Shape at scale: ONE shuffle — the per-user aggregate collecting one
  * sorted timestamp list per step (each bounded by that user's own
  * event count, the same envelope any sessionization carries). Step
  * times then resolve per-row with array functions — `array_min` /
  * higher-order `filter` — so the sequential step dependency costs zero
  * extra passes, no UDF, no self-joins (the classic spelling is one
  * join per step). Null step times propagate: a user who never reached
  * step k-1 contributes nothing to step k, exactly the
  * `filter(l, x > null) = []` semantics on both Spark and the oracle's
  * DuckDB lambdas. */
object Funnel {

  /** Per-user step-completion times: `(user_id, t_<step1>, ...)` —
    * null from the first uncompleted step onward. */
  def stepTimes(events: DataFrame, steps: Seq[String],
                tsCol: String = "ts_ms", userCol: String = "user_id",
                typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val lists = steps.zipWithIndex.map { case (s, i) =>
      sort_array(collect_list(when(col(typeCol) === s, col(tsCol))))
        .as(s"__l$i")
    }
    val grouped = events.groupBy(col(userCol).as("user_id"))
      .agg(lists.head, lists.tail: _*)
    val timed = steps.indices.foldLeft(grouped) { (df, i) =>
      val t =
        if (i == 0) array_min(col("__l0"))
        else array_min(filter(col(s"__l$i"), x => x > col(s"__t${i - 1}")))
      df.withColumn(s"__t$i", t)
    }
    timed.select(col("user_id") +:
      steps.indices.map(i => col(s"__t$i").as(s"t_${steps(i)}")): _*)
  }

  /** The funnel report: `(step_idx, step, users)` — users completing
    * each step in order. One aggregate over [[stepTimes]]. */
  def report(events: DataFrame, steps: Seq[String],
             tsCol: String = "ts_ms", userCol: String = "user_id",
             typeCol: String = "event_type"): DataFrame = {
    val t = stepTimes(events, steps, tsCol, userCol, typeCol)
    val counts = t.agg(
      count(col(s"t_${steps.head}")).as("__c0"),
      steps.indices.tail.map(i =>
        count(col(s"t_${steps(i)}")).as(s"__c$i")): _*)
    val rows = array(steps.indices.map(i => struct(
      lit(i).as("step_idx"), lit(steps(i)).as("step"),
      col(s"__c$i").as("users"))): _*)
    counts.select(explode(rows).as("s"))
      .select(col("s.step_idx").as("step_idx"), col("s.step").as("step"),
        col("s.users").as("users"))
      .orderBy("step_idx")
  }

  /** Per-user event buffer for the streaming funnel (kept only within
    * the finalization horizon — watermark-bounded state). With
    * `emitted = true` it is the once-per-user TOMBSTONE: an empty
    * buffer marking a user whose funnel already resolved, held so a
    * reappearing user cannot emit a second time. */
  final case class FunnelBuffer(pairs: Seq[(Long, Int)], maxTs: Long,
                                emitted: Boolean = false)

  /** One resolved funnel step for a finalized user. */
  final case class FunnelStep(user_id: Long, step_idx: Int, ts_ms: Long)

  /** The batch semantics as a fold over time-ordered events: step k's
    * time = the earliest step-k event strictly after step k-1's — a
    * single forward pass over the sorted buffer is equivalent to the
    * chained `array_min(filter(...))` spelling (spec-pinned parity). */
  private[graft] def resolve(pairs: Seq[(Long, Int)], n: Int): Seq[Option[Long]] = {
    val t = Array.fill[Option[Long]](n)(None)
    pairs.sortBy(identity).foreach { case (ts, s) =>
      if (t(s).isEmpty && (s == 0 || t(s - 1).exists(_ < ts))) t(s) = Some(ts)
    }
    t.toSeq
  }

  private[graft] def streamUpdate(nSteps: Int, horizonMs: Long,
      oncePerUser: Boolean = false, tombstoneTtlMs: Option[Long] = None)(
      user: Long, rows: Iterator[(Long, java.sql.Timestamp, Int)],
      state: org.apache.spark.sql.streaming.GroupState[FunnelBuffer])
      : Iterator[FunnelStep] = {
    if (state.hasTimedOut) {
      val st = state.get
      if (st.emitted) {
        // tombstone TTL fired: the user has been quiet for the full TTL
        // beyond resolution — drop the tombstone (bounding state at the
        // cost of re-emission if they return after that)
        state.remove()
        return Iterator.empty
      }
      // watermark passed the horizon after the user's last event: the
      // buffer is complete — resolve once, emit, then drop the state
      // (session mode) or collapse it to the emitted tombstone
      // (once-per-user mode; with no TTL no new timeout is set, so it
      // never fires again and survives until the query ends)
      val out = resolve(st.pairs, nSteps).zipWithIndex
        .collect { case (Some(ts), i) => FunnelStep(user, i, ts) }
      if (oncePerUser) {
        state.update(FunnelBuffer(Nil, st.maxTs, emitted = true))
        tombstoneTtlMs.foreach(ttl => state.setTimeoutTimestamp(
          math.max(st.maxTs + horizonMs + ttl,
            state.getCurrentWatermarkMs() + 1)))
      } else state.remove()
      out.iterator
    } else {
      val prev = state.getOption.getOrElse(FunnelBuffer(Nil, Long.MinValue))
      if (prev.emitted) {
        // once-per-user: this user already resolved — swallow the new
        // session's events and keep the tombstone. With a TTL the
        // timeout re-arms from the new activity (an ACTIVE user's
        // tombstone must not expire mid-activity — only a user quiet
        // for the full TTL is forgotten); without one, no timeout.
        val newMax = rows.map(_._2.getTime).foldLeft(prev.maxTs)(math.max)
        state.update(FunnelBuffer(Nil, newMax, emitted = true))
        tombstoneTtlMs.foreach(ttl => state.setTimeoutTimestamp(
          math.max(newMax + horizonMs + ttl,
            state.getCurrentWatermarkMs() + 1)))
        Iterator.empty
      } else {
        val fresh = rows.map(r => (r._2.getTime, r._3)).toSeq
        val all = FunnelBuffer(prev.pairs ++ fresh,
          math.max(prev.maxTs, fresh.map(_._1).max))
        state.update(all)
        state.setTimeoutTimestamp(
          math.max(all.maxTs + horizonMs, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }
  }

  /** Streaming twin of [[stepTimes]]: per-user event buffers as keyed
    * state, finalized by EVENT-TIME timeout once the watermark passes
    * `horizonMs` beyond the user's last buffered event — so a late
    * step-0 event that re-orders the chain still lands before
    * resolution (parity with the batch operator over the same data,
    * spec-pinned).
    *
    * Emission contract: exactly-once per user PER QUIET PERIOD
    * (session-scoped, spec-pinned). A user whose events all fall within
    * one horizon emits once, matching batch [[stepTimes]] over the same
    * data. A user who REAPPEARS after `horizonMs`+watermark of silence
    * starts a fresh funnel session and emits again, resolved from the
    * new session's events only — by design: the alternative (a
    * per-user emitted tombstone held forever) grows state with the
    * all-time user dimension, which is exactly what watermark-bounded
    * state exists to avoid. Downstream consumers wanting all-time
    * once-per-user semantics dedup on user_id in the sink (the
    * ReportDedup pattern); batch parity over an unbounded history is
    * [[stepTimes]]'s job. State per user = that user's funnel-relevant
    * events within the horizon (the sessionization envelope), evicted
    * at emission. The price of correctness under late data is latency:
    * conversions surface `horizonMs` of event time after the user goes
    * quiet.
    *
    * `oncePerUser = true` switches to the ALL-TIME contract dashboards
    * built on funnel counts usually assume: after a user's funnel
    * resolves, an emitted tombstone (empty buffer, no timeout) replaces
    * the session state, so a user reappearing after any quiet period
    * emits NOTHING further. The price is state proportional to the
    * all-time emitted-user dimension — a long (+flag) per user, not the
    * event buffer — which is exactly the growth session mode exists to
    * avoid: run it on RocksDB state (`RocksDBStateStoreProvider` as
    * `spark.sql.streaming.stateStore.providerClass`) when the user
    * dimension is large, and/or bound it with `tombstoneTtlMs`: when
    * set, a resolved user's tombstone is kept only until the watermark
    * passes `maxTs + horizonMs + ttl` of that user's LAST activity
    * (activity while tombstoned re-arms it), then dropped — state becomes
    * proportional to the TTL-active user dimension, and the contract
    * weakens, explicitly, to once-per-TTL-window (a multi-week query
    * can bound state without restarting; a user returning after a full
    * TTL of silence emits again). */
  def stream(events: DataFrame, steps: Seq[String],
             horizonMs: Long = 1800000L, watermark: String = "10 minutes",
             tsCol: String = "event_time", userCol: String = "user_id",
             typeCol: String = "event_type", oncePerUser: Boolean = false,
             tombstoneTtlMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[FunnelStep] = {
    require(tombstoneTtlMs.forall(_ > 0), "tombstone TTL must be positive")
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val idx = typedLit(steps.zipWithIndex.toMap)
    events
      .withWatermark(tsCol, watermark)
      .filter(col(typeCol).isin(steps.map(lit): _*))
      // the watermarked timestamp column rides intact into the stateful
      // op (converting to long here would strip the watermark tag)
      .select(col(userCol).cast("long").as[Long],
        col(tsCol).as[java.sql.Timestamp],
        element_at(idx, col(typeCol)).as[Int])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuffer, FunnelStep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        streamUpdate(steps.size, horizonMs, oncePerUser, tombstoneTtlMs))
  }

  /** Cohort retention matrix: users grouped by the period of their
    * FIRST event (the cohort), each later period counting the distinct
    * cohort members still active — `(cohort_period, period_offset,
    * active_users)`, the classic retention triangle.
    *
    * Two aggregates and one equi-join, all keyed on user/cohort: first
    * event per user is a map-side-combinable `min`; the join back is
    * user-keyed (broadcast when the user dimension is small, AQE
    * decides); the final distinct count is per (cohort, offset) —
    * cardinality bounded by periods², rows by user-periods. No windows,
    * no self-join of events against events. */
  def cohorts(events: DataFrame, periodMs: Long,
              tsCol: String = "ts_ms", userCol: String = "user_id")
      : DataFrame = {
    require(periodMs > 0, "cohorts needs a positive period")
    val first = events.groupBy(col(userCol).as("user_id"))
      .agg(floor(min(col(tsCol)) / periodMs).as("cohort_period"))
    events.select(col(userCol).as("user_id"),
        floor(col(tsCol) / periodMs).as("__p"))
      .join(first, Seq("user_id"))
      .groupBy(col("cohort_period"),
        (col("__p") - col("cohort_period")).as("period_offset"))
      .agg(count_distinct(col("user_id")).as("active_users"))
      .orderBy("cohort_period", "period_offset")
  }
}
