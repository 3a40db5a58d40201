package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{FlowSynth, Graft, Tables}
import graft.analytics._
import graft.expressions.GraftFunctions
import graft.functions.{DnsFunctions, TextFunctions}
import graft.multimodal.Multimodal
import graft.pipeline.{Curation, Projection, Similarity, TextPipeline, UrlCuration}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a DataFrame pipeline over the driver's
  * parquet testdata; [[oracleSql]] holds the equivalent DuckDB SQL. The
  * Stream4Flow-semantics operators run over a flow view synthesized
  * deterministically from `events` (see [[graft.core.FlowSynth]]) so they
  * are oracle-checkable too.
  *
  * Convention: every output column is explicitly aliased identically on
  * both sides; doubles are round()ed; float summation order is pinned;
  * results carry a deterministic ORDER BY (optimized away under Bench's
  * count()).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Graft.tune(spark)
    HostStats(FlowSynth.flows(spark, "/root/testdata/sf0.001"))
  }

  /** Flow view over the events table. `cols` narrows WHICH flow columns
    * are synthesized (the analytics declare their sets as `inputCols`):
    * Catalyst prunes execution either way, but the un-synthesized
    * columns' fat expression trees stop being re-walked by every
    * downstream analyzer/optimizer pass — the driver-latency share of
    * the sub-second flow queries (see flowsWide's measurement). */
  private def flows(s: SparkSession, d: String,
                    cols: Seq[String] = Nil): DataFrame = {
    Graft.tune(s)
    FlowSynth.fromEvents(Tables.events(s, d), cols)
  }

  /** [[flows]] with the synthesis widened over the scan: the per-row
    * string building dwarfs the 2 MB event rows, and the test file is
    * ONE parquet row group, so a CPU-bound consumer (the biflow
    * self-join's four subtrees) would otherwise run it on one core.
    * Kept separate from [[flows]] — for the simple single-pass flow
    * queries the extra exchange costs more than the parallelism buys
    * (measured: q_protocols_statistics 0.46 → 1.09 s with the widening
    * applied globally). */
  /** events-scan partition count memo: `ensureMinParallelism`'s
    * `.rdd.getNumPartitions` probe physically plans the scan — ~60 ms of
    * driver latency per call for an answer that cannot change within a
    * session (the testdata files are immutable; same rationale as
    * Tables' footer-schema memo). Keyed by app id so a new session
    * re-probes. */
  private val eventScanParts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]

  private def flowsWide(s: SparkSession, d: String): DataFrame = {
    Graft.tune(s)
    val ev = Tables.events(s, d)
    val scanParts = eventScanParts.computeIfAbsent(
      s.sparkContext.applicationId + "#" + d,
      _ => ev.rdd.getNumPartitions).intValue()
    // narrow synth: the biflow path reads 9 of the 17 flow columns, and
    // the other 8 carry the FAT expressions (typedLit suites, nested DNS
    // whens) — pruned from execution either way, but the narrow tree
    // halves the per-Dataset-op analyzer/optimizer walks that dominate
    // this query's driver latency (StageProbe planning split: build+optimize 0.4-0.9 s)
    FlowSynth.fromEvents(graft.scale.Skew.ensureMinParallelismKnown(
      ev, scanParts,
      // quarter-width, measured r17 across widths under the bench
      // protocol (q_pattern_finder, sf0.1 median): 32-wide 0.91 s,
      // 16-wide 0.81 s, 8-wide 0.77 s — at this row count extra tasks
      // buy scheduling overhead, not parallelism. 8-wide is also the
      // contention-robust width: with 16 cores stolen by a load
      // generator, 8 tasks still get whole cores (measured: 1.02 s,
      // 1.73× of DuckDB, vs 1.76 s / 2.6× at 16-wide). No-ops at real
      // scale, where the scan arrives already wider than this floor.
      math.max(1, s.sparkContext.defaultParallelism / 4),
      Seq(col("event_id"))), FlowSynth.biflowCols)
  }

  private def eventsMs(s: SparkSession, d: String): DataFrame = {
    Graft.tune(s)
    Tables.events(s, d).withColumn("ts_ms", expr("ts div 1000000"))
  }

  // --- shared test parameters (mirrored into the oracle SQL) -----------
  private val ddosSplitMs = 1705276800000L // 2024-01-15T00:00:00Z
  private val dnsServers: Seq[String] =
    for { i <- 0 until 5; j <- 0 until 4 } yield s"192.168.$i.$j"
  private val suiteCodes = Seq("002f", "0035", "0033", "0039", "009c", "1301", "c02f", "cca8")
  private def swap4(g: String) = g.substring(2, 4) + g.substring(0, 2)

  /** Per-run scratch dir for queries that exercise persisted stores
    * (incremental ingest, saved indexes): keyed by the Spark app id so
    * two concurrent harness/bench invocations on one machine never
    * delete or append to each other's store mid-query. */
  private def runScratch(s: SparkSession, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_" +
      s.sparkContext.applicationId

  /** doc_id-bucketed+sorted copy of `documents`, built AT MOST ONCE per
    * (session, sfDir) and registered as a catalog table so downstream
    * joins see the bucket spec. Synchronized + idempotent because the
    * serving posture ConcurrentBench models runs the bucketed twin from
    * several client threads of one session at once — first caller
    * builds, the rest reuse (a per-call rebuild would both race the
    * catalog and bill every timed pass for the one-time ingest layout). */
  private val bucketedBuildLock = new Object
  private def bucketedDocuments(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    bucketedBuildLock.synchronized {
      // name carries a sanitized dir suffix, not just a 32-bit hash: two
      // sfDirs colliding on hashCode (or a stale table from a dead
      // session) must not be silently reused as the wrong corpus
      val safe = dir.replaceAll("[^A-Za-z0-9]+", "_")
        .replaceAll("^_+", "").takeRight(40)
      val t = s"graft_docs_bucketed_${safe}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val scratch = runScratch(s, t)
      // reuse only a table whose backing location IS this session's
      // scratch path; anything else is rebuilt in place
      val reusable = s.catalog.tableExists(t) && {
        val loc = s.sql(s"DESCRIBE TABLE EXTENDED $t")
          .filter(col("col_name") === "Location")
          .select("data_type").collect().headOption.map(_.getString(0))
        loc.exists(_.stripPrefix("file:") == scratch)
      }
      if (!reusable)
        Tables.documents(s, dir).write.mode("overwrite")
          .option("path", scratch)
          .bucketBy(32, "doc_id").sortBy("doc_id")
          .format("parquet").saveAsTable(t)
      s.table(t)
    }

  /** TLS dictionary: covers ~2/3 of suite combos so the Unknown path is
    * exercised; same data feeds the Spark broadcast join and the oracle's
    * VALUES list. */
  val tlsDict: Seq[TlsClassification.DictEntry] =
    for { i <- 0 until 8; j <- 0 until 8 if (i + j) % 3 != 0 }
      yield TlsClassification.DictEntry(
        s"${swap4(suiteCodes(i))},${swap4(suiteCodes(j))}",
        s"dev${(i + j) % 4}", s"os${i % 3}", s"app${j % 3}", s"br${(i * j) % 5}")

  /** Stopword profiles for the language-ID heuristic (tie → lexicographically
    * first language, mirrored in the oracle's CASE ordering). */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "for", "on", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des", "de", "un", "une", "du", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"))

  private[graft] val patterns = Seq(
    PatternFinder.Pattern("bulk", Seq(2500.0, 25.0, 5000.0, 26.0, 10000.0)),
    PatternFinder.Pattern("tiny", Seq(100.0, 5.0, 500.0, 6.0, 1000.0)))
  private[graft] val binThresholds = Seq(1.0, 2.0, 4.0, 8.0)

  /** Distribution config for the pattern_finder report document — the
    * reference configuration.yml shape (intervals/weights/limit) sized to
    * the synthetic biflow distance scale so the anomaly filter keeps a
    * non-trivial subset. */
  private[graft] val pfDist = PatternFinder.DistConfig(
    intervals = Seq(0.0, 1.0, 1.5, 2.0, 3.0, 6.0),
    weights = Seq(3L, 2L, 1L, 1L, 2L, 3L),
    limit = 5L)

  /** Mirrored UDP responses (victim-ward) for the reflection analytic:
    * every third DNS flow gets a 4x-amplified reverse flow (J6 union). */
  private def withUdpEcho(f: DataFrame): DataFrame = {
    val base = f.filter(col("protocol") === 17)
      .select("flow_id", "src_ip4", "dst_ip", "protocol", "bytes", "packets")
    base.unionByName(
      f.filter(col("protocol") === 17 && col("flow_id") % 3 === 0).select(
        (col("flow_id") + 10000000L).as("flow_id"),
        col("dst_ip").as("src_ip4"),
        col("src_ip4").as("dst_ip"),
        col("protocol"),
        (col("bytes") * 4).as("bytes"),
        col("packets")))
  }

  /** Request flows + synthetic paired responses for the biflow self-join:
    * swapped endpoints, +flow_id%400 ms start offset (within the 500 ms
    * pairing tolerance).
    *
    * The fanout is an EXPLODE of a two-struct array, not a UNION: a union
    * duplicates the whole upstream subtree per leg (two parquet scans,
    * two widening exchanges — measured on q_pattern_finder), while the
    * explode keeps one scan/exchange and doubles rows inside the wide
    * stage, pipelined into whatever consumes them. */
  private[graft] def withBiflowEcho(f: DataFrame): DataFrame = {
    val both = array(
      struct(
        col("flow_id"), col("src_ip4"), col("dst_ip"),
        col("src_port"), col("dst_port"),
        col("start_ms"), col("end_ms"), col("packets"), col("bytes")),
      struct(
        (col("flow_id") + 10000000L).as("flow_id"),
        col("dst_ip").as("src_ip4"),
        col("src_ip4").as("dst_ip"),
        col("dst_port").cast("long").as("src_port"),
        col("src_port").cast("int").as("dst_port"),
        (col("start_ms") + col("flow_id") % 400).as("start_ms"),
        (col("end_ms") + col("flow_id") % 400).as("end_ms"),
        (col("packets") + 1).as("packets"),
        (col("bytes") * 2).as("bytes")))
    // inline = explode straight to columns: one generator pass, no
    // struct-expansion select after it
    f.filter(col("src_ip4").isNotNull).select(inline(both))
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core over TPC-H-ish tables -------------------------
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_join_region_revenue" -> ((s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")
    }),

    // supplier-side volume per nation: lineitem fact joined to the
    // supplier dim (broadcast) chained to nation (broadcast) — the
    // classic snowflake probe from the supply side
    "q_supplier_nation_volume" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))),
            2).as("volume"),
          countDistinct(col("s_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    "q_part_type_share" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_size") < 20)),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_type")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("p_type")
    }),

    "q_anti_join" -> ((s, dir) =>
      // left_anti: the idiomatic large-whitelist / EXCEPT replacement
      // (SURVEY §2.3 note below J8)
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_rollup_revenue" -> ((s, dir) =>
      // grouping-set rollup (SURVEY §2.4: exposed for free by Spark)
      Tables.orders(s, dir)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus", "o_orderpriority")),

    // --- read-side interactive queries (SURVEY §2.9, graft.queries API) -
    "q_read_totals" -> ((s, dir) =>
      graft.queries.ReadSide.totals(eventsMs(s, dir), col("ts_ms"), 432000000L,
        Seq(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"),
          count_distinct(col("user_id")).as("n_users")))),

    "q_read_latest_per_pair" -> ((s, dir) =>
      graft.queries.ReadSide.latestPerGroup(eventsMs(s, dir),
        Seq(col("user_id"), col("event_type")), col("ts_ms"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts_ms"), round(col("value"), 2).as("value"))
        .orderBy("user_id", "event_type")),

    "q_read_histogram" -> ((s, dir) =>
      // Q1 shape: date_histogram(interval) → terms → sum metrics
      graft.queries.ReadSide.timeSeries(eventsMs(s, dir), col("ts_ms"),
        86400000L, Seq(col("event_type")),
        Seq(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"),
          count_distinct(col("user_id")).as("n_users")))
        .orderBy("bucket_ms", "event_type")),

    // Q12 at scale: per-(event_type, day) HLL sketch layer, rolled up to
    // event_type by sketch union — the persisted-layer answer to the
    // distinct-count dashboards. Emits the union-path estimate, the
    // direct single-sketch estimate (must agree: union is register-wise
    // max), and the exact count. No DuckDB oracle: DataSketches binary
    // sketches aren't SQL-replicable — the driver's rows-check plus the
    // self-describing est/exact columns and ScaleSpec cover it.
    "q_hll_distinct" -> ((s, dir) => {
      val e = eventsMs(s, dir)
      val layer = graft.scale.Sketches.buildLayer(e,
        Seq(col("event_type"), expr("ts_ms div 86400000").as("day")),
        col("user_id"))
      val unioned = graft.queries.ReadSide.distinctCountSketched(
        layer, col("event_type"))
        .withColumnRenamed("key", "event_type")
        .withColumnRenamed("value", "est_union")
      val direct = graft.scale.Sketches.rollup(
        graft.scale.Sketches.buildLayer(e, Seq(col("event_type")), col("user_id")),
        Seq(col("event_type")))
        .withColumnRenamed("distinct_est", "est_direct")
      val exact = e.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("distinct_exact"))
      unioned.join(direct, Seq("event_type")).join(exact, Seq("event_type"))
        .select(col("event_type"), col("est_union"), col("est_direct"),
          col("distinct_exact"),
          (col("est_union") === col("est_direct")).as("merge_consistent"))
        .orderBy("event_type")
    }),

    // retention from the sketch layer ALONE (inclusion-exclusion over
    // HLL unions — no raw-row rescan), with the exact self-join twin
    // alongside. Rows-check only, like the other sketch queries.
    "q_hll_retention" -> ((s, dir) => {
      val e = eventsMs(s, dir)
      val layer = graft.scale.Sketches.buildLayer(e,
        Seq(col("event_type"), expr("ts_ms div 86400000").as("day")),
        col("user_id"))
      val approx = graft.scale.Sketches.retention(
          layer, col("event_type"), col("day"))
        .withColumnRenamed("key", "event_type")
        .withColumnRenamed("bucket", "day")
      val days = e.select(col("event_type"),
        expr("ts_ms div 86400000").as("day"), col("user_id")).distinct()
      val exact = days.as("a")
        .join(days.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") + 1 === col("b.day") &&
            col("a.user_id") === col("b.user_id"))
        .groupBy(col("a.event_type").as("event_type"), col("a.day").as("day"))
        .agg(count(lit(1)).as("exact_returning"))
      approx.join(exact, Seq("event_type", "day"), "left")
        .withColumn("exact_returning", coalesce(col("exact_returning"), lit(0L)))
        .orderBy("event_type", "day")
    }),

    // frequency sibling of q_hll_distinct: per-(event_type, day) CMS
    // layer, merged (exact counter addition) and probed for the global
    // heavy hitters seeded by per-bucket exact top-N. No DuckDB oracle
    // (CMS binaries aren't SQL-replicable); rows-check + ScaleSpec
    // (bit-identical merge, one-sided error, store round-trip).
    "q_cms_topk" -> ((s, dir) => {
      val e = eventsMs(s, dir)
      val bucketKeys = Seq(col("event_type"), expr("ts_ms div 86400000").as("day"))
      val layer = graft.scale.FreqSketches.buildLayer(e, bucketKeys, col("user_id"))
      graft.scale.FreqSketches.heavyHitters(layer, e,
        Seq(col("event_type"), expr("ts_ms div 86400000")), col("user_id"),
        k = 20, perBucket = 32)
    }),

    // quantile member of the sketch family: per-(event_type, day) GK
    // summaries, merged per event_type, probed at p50/p90/p99 next to
    // the exact percentiles. No DuckDB oracle (the summary's answers are
    // merge-order-dependent within the rank bound); rows-check +
    // ScaleSpec rank-bound assertions.
    "q_quantile_sketch" -> ((s, dir) => {
      val e = eventsMs(s, dir)
      val layer = graft.scale.QuantileSketches.buildLayer(e,
        Seq(col("event_type"), expr("ts_ms div 86400000").as("day")),
        col("value"), relativeError = 0.01)
      val merged = graft.scale.QuantileSketches.rollupSketches(
        layer, Seq(col("event_type")))
      val approx = graft.scale.QuantileSketches.percentiles(
        merged, Seq(0.5, 0.9, 0.99))
      val exact = e.groupBy("event_type").agg(
        expr("percentile(value, 0.5)").as("exact_p50"),
        expr("percentile(value, 0.9)").as("exact_p90"),
        expr("percentile(value, 0.99)").as("exact_p99"))
      approx.join(exact, Seq("event_type")).orderBy("event_type")
    }),

    // --- exact projections of the sketch tier, registered as their own
    // oracle-checked rows: the sketch queries above stay `no_oracle`
    // (binary estimates aren't SQL-replicable; spec-pinned instead),
    // but the EXACT columns they emit in-row ARE replicable — pinning
    // them here shrinks the unchecked surface to just the estimates.
    "q_hll_distinct_exact" -> ((s, dir) =>
      eventsMs(s, dir).groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("distinct_exact"))
        .orderBy("event_type")),

    "q_hll_retention_exact" -> ((s, dir) => {
      val days = eventsMs(s, dir).select(col("event_type"),
        expr("ts_ms div 86400000").as("day"), col("user_id")).distinct()
      days.as("a").join(days.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") + 1 === col("b.day") &&
            col("a.user_id") === col("b.user_id"))
        .groupBy(col("a.event_type").as("event_type"), col("a.day").as("day"))
        .agg(count(lit(1)).as("exact_returning"))
        .orderBy("event_type", "day")
    }),

    "q_cms_topk_exact" -> ((s, dir) =>
      eventsMs(s, dir).groupBy(col("user_id").as("item"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("item").asc).limit(20)),

    "q_quantile_sketch_exact" -> ((s, dir) =>
      eventsMs(s, dir).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
        round(expr("percentile(value, 0.9)"), 6).as("exact_p90"),
        round(expr("percentile(value, 0.99)"), 6).as("exact_p99"))
        .orderBy("event_type")),

    "q_read_top_contributor" -> ((s, dir) => {
      // Q7 shape: terms + sum totals + top-contributing sub-bucket
      val e = eventsMs(s, dir)
      val per = e.groupBy("event_type", "user_id")
        .agg(round(sum("value"), 2).as("user_value"),
          count(lit(1)).as("user_events"))
      val top = per.withColumn("rn", row_number().over(
          Window.partitionBy("event_type")
            .orderBy(col("user_value").desc, col("user_id").asc)))
        .filter(col("rn") === 1)
      val tot = e.groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
          count(lit(1)).as("n_events"))
      top.join(tot, Seq("event_type"))
        .select("event_type", "total_value", "n_events",
          "user_id", "user_value", "user_events")
        .orderBy("event_type")
    }),

    // ordered-conversion funnel: step k counts only users whose step-k
    // event came strictly after their step-(k-1) completion
    "q_funnel" -> ((s, dir) =>
      graft.queries.Funnel.report(
        eventsMs(s, dir).select("user_id", "event_type", "ts_ms"),
        Seq("view", "click", "purchase"))),

    // daily cohort retention triangle over the events table
    "q_cohorts" -> ((s, dir) =>
      graft.queries.Funnel.cohorts(
        eventsMs(s, dir).select("user_id", "ts_ms"),
        periodMs = 86400000L)),

    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      eventsMs(s, dir)
        .select("user_id", "ts_ms", "event_id")
        .withColumn("prev_ms", lag("ts_ms", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_ms").as("session_start_ms"),
          max("ts_ms").as("session_end_ms"))
        .orderBy("user_id", "session_idx")
    }),

    // --- generic relational operators (operators/, plans/) -------------
    "q_asof_join" -> ((s, dir) => {
      val ev = eventsMs(s, dir)
      val left = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_ms")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("r_user"), col("ts_ms").as("click_ms"),
          col("event_id"))
        .groupBy("r_user", "click_ms")
        .agg(max("event_id").as("click_id"))
      graft.plans.AsOfJoinPlan.backward(left, clicks,
          Seq("user_id"), Seq("r_user"), "ts_ms", "click_ms")
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("click_id"), col("click_ms").as("asof_ts"))
        .orderBy("event_id")
    }),

    "q_range_join" -> ((s, dir) => {
      val e = eventsMs(s, dir).select(col("event_id"),
        col("ts_ms").as("start_ms"),
        (col("ts_ms") + floor(col("value")).cast("long") * 1000L).as("end_ms"))
      graft.operators.RangeJoin.overlap(
          e.toDF("a_id", "a_start", "a_end"),
          e.toDF("b_id", "b_start", "b_end"),
          "a_start", "a_end", "b_start", "b_end", bucketWidth = 600000L)
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id", "a_start", "b_start")
        .orderBy("a_id", "b_id")
    }),

    // --- flow synthesis parity (the CTE itself) ------------------------
    "q_flows_synth" -> ((s, dir) => flows(s, dir).orderBy("flow_id")),

    // PageRank over the host-communication graph (src talks-to dst):
    // the host-profile tier's "who matters" centrality, and the same
    // operator a crawl pipeline runs over its domain link graph as a
    // quality prior. 3 synchronous iterations in integer nano-units
    // (floor division) so the unrolled-CTE oracle is exact by
    // construction on any engine.
    "q_host_rank" -> ((s, dir) => {
      val f = flows(s, dir)
      val edges = f.select(
        graft.functions.NetFunctions.ipCoalesce(
          col("src_ip4"), col("src_ip6")).as("src"),
        col("dst_ip").as("dst"))
      graft.scale.Graphs.pageRank(edges, iters = 3, dampingPct = 85)
        .orderBy("node")
    }),

    // --- Stream4Flow analytics (SURVEY §2) -----------------------------
    "q_protocols_statistics" -> ((s, dir) =>
      ProtocolStatistics(flows(s, dir, ProtocolStatistics.inputCols), 3600000L)
        .orderBy("window_start_ms", "protocol")),

    "q_host_stats" -> ((s, dir) =>
      HostStats(flows(s, dir, HostStats.inputCols)).orderBy("src_ip")),

    "q_top_n_host_stats" -> ((s, dir) =>
      TopNHostStats(flows(s, dir, TopNHostStats.inputCols), 10)
        .orderBy("src_ip", "stat_type", "rank")),

    "q_portscan" -> ((s, dir) =>
      PortScanDetection(flows(s, dir), minTargets = 2)
        .orderBy("scan_type", "src_ip", "key")),

    "q_ssh_auth" -> ((s, dir) =>
      SshAuthDetection(flows(s, dir), minFlows = 1)
        .orderBy("src_ip", "dst_ip")),

    "q_dns_statistics" -> ((s, dir) =>
      DnsStatistics(flows(s, dir, DnsStatistics.inputCols), topN = 100)
        .orderBy(col("stat_type"), col("value").desc, col("key"))),

    "q_ddos" -> ((s, dir) =>
      DdosDetection(flows(s, dir), ddosSplitMs,
        ratioIncrease = 0.8, minPackets = 20L)
        .orderBy("dst_ip")),

    "q_reflect_ddos" -> ((s, dir) =>
      ReflectDdosDetection(withUdpEcho(flows(s, dir)), dnsServers,
        ratioThreshold = 1.0, minReplies = 1L)
        .orderBy("src_ip", "dns_ip")),

    "q_dns_open_resolvers" -> ((s, dir) =>
      DnsOpenResolvers(flows(s, dir).filter(col("dns_crr_type") === 1),
        "10.0.0.0/16", whitelistRegex = Some("zone4"))
        .orderBy("resolver_ip", "resolved_data", "resolved_query")),

    "q_dns_external_resolvers" -> ((s, dir) =>
      // 30 min tolerance: the synthetic event cadence is sparse; the
      // reference's 5 s would make the interval join vacuously empty here
      DnsExternalResolvers(flows(s, dir, DnsExternalResolvers.inputCols),
        toleranceMs = 1800000L)
        .orderBy("client_ip", "resolver_ip")),

    "q_tls_classification" -> ((s, dir) =>
      TlsClassification(s, flows(s, dir), tlsDict)
        .orderBy("stat_type", "key")),

    // --- detection result documents (reference @type shapes, results API) -
    "q_doc_portscan" -> ((s, dir) =>
      graft.results.Documents.portScanDoc(
        PortScanDetection(flows(s, dir), minTargets = 2))
        .orderBy(col("@type"), col("src_ip"), col("dst_port"), col("dst_ip"))),

    "q_doc_ssh" -> ((s, dir) =>
      graft.results.Documents.sshAuthDoc(
        SshAuthDetection(flows(s, dir), minFlows = 1))
        .orderBy("src_ip", "dst_ip")),

    "q_doc_ddos" -> ((s, dir) =>
      // attackers re-joined to a string for the oracle compare (the doc
      // itself carries the list, spec'd in ResultsSpec)
      graft.results.Documents.ddosDoc(
        DdosDetection(flows(s, dir), ddosSplitMs,
          ratioIncrease = 0.8, minPackets = 20L), lit(ddosSplitMs))
        .withColumn("attackers", array_join(col("attackers"), ","))
        .orderBy("dst_ip")),

    "q_doc_resolvers" -> ((s, dir) =>
      graft.results.Documents.resolverDoc(
        DnsExternalResolvers(flows(s, dir), toleranceMs = 1800000L))
        .orderBy("src_ip", "resolver_ip")),

    // Q10 read-side latest-document-per-host over the portscan doc store
    "q_doc_portscan_latest" -> ((s, dir) =>
      graft.queries.ReadSide.latestPerGroup(
        graft.results.Documents.portScanDoc(
          PortScanDetection(flows(s, dir), minTargets = 2)),
        Seq(col("src_ip")), unix_millis(col("@timestamp")),
        concat_ws("_", col("@type"), coalesce(col("dst_port"), col("dst_ip"))))
        .orderBy("src_ip")),

    // Q9 read-side attacker leaderboard over the ssh doc store
    "q_doc_ssh_top_attackers" -> ((s, dir) =>
      graft.queries.ReadSide.groupSum(
        graft.results.Documents.sshAuthDoc(
          SshAuthDetection(flows(s, dir), minFlows = 1)),
        col("src_ip"), col("flows"))),

    "q_host_daily_profile" -> ((s, dir) =>
      HostDailyProfile(flows(s, dir))
        .orderBy("src_ip", "day_start_ms", "hour_slot")),

    "q_pattern_finder" -> ((s, dir) => {
      // equi-join pairing on the biflow key (J5, the reference's own
      // self-join semantics). SHAPE SHOOTOUT (r18, bench protocol, 4
      // timed passes, sf0.1): join 0.425 s med / 0.379 min; broadcast-
      // pinned join 0.480/0.416; grouped collect_list pairing 0.738/
      // 0.617 (its ObjectHashAggregate partial+final is object-path,
      // ~8 µs/row, while the join stays whole-stage codegen end to
      // end; at 10M events it took 5.75 s against the join's 3.41 s,
      // COVERAGE.md "flow-tier third decade"). AQE reuses
      // the widening exchange (ReusedExchange) and converts the rsp side
      // to a runtime broadcast at this size, while at corpus scale the
      // same declaration stays a skew-splittable shuffle join.
      PatternFinder.classify(
        PatternFinder.biflows(withBiflowEcho(flowsWide(s, dir)), 500L),
        patterns, binThresholds,
        keep = Seq("biflow_key", "req_id", "rsp_id", "client_ip",
          "server_ip"))
        .orderBy("req_id", "rsp_id")
    }),

    // Q7: the dns_statistics data_array doc WITH the per-key
    // top-contributing ip (controller nested terms sub-agg,
    // web-interface/Stream4Flow/controllers/dns_statistics.py:53-75);
    // data_array serialized to a string for the oracle compare
    "q_doc_dns_stats_ip" -> ((s, dir) => {
      val contrib = DnsStatistics.contributions(flows(s, dir),
        carry = Seq("src_ip4", "src_ip6"))
        .withColumn("ip", coalesce(col("src_ip4"), col("src_ip6")))
        .filter(col("ip").isNotNull)
      val perIp = contrib.groupBy("stat_type", "key", "ip")
        .agg(count(lit(1)).as("cnt"))
      // argmax contributor via min_by hash agg (partial agg, no window
      // sort): min of (-cnt, ip) = highest count, then lowest ip — the
      // same tie-break as the oracle's row_number formulation
      val stats = perIp
        .groupBy("stat_type", "key")
        .agg(sum("cnt").as("value"),
          min_by(col("ip"), struct((-col("cnt")).as("n"), col("ip"))).as("ip"))
        .select("stat_type", "key", "value", "ip")
      graft.results.Documents.dataArrayDoc(stats, "dns_statistics",
        lit(ddosSplitMs), withIp = true)
        .withColumn("data_array",
          concat_ws(";", transform(col("data_array"), e =>
            concat_ws(":", e.getField("key"), e.getField("value"),
              e.getField("ip")))))
        .orderBy("@stat_type")
    }),

    // ST2/A12 batch face: per-(src,dst) element-wise distribution sums +
    // anomaly filter + @type=pattern_finder document; nested columns are
    // serialized to strings for the oracle compare (the doc itself carries
    // the arrays, spec'd in ResultsSpec)
    "q_doc_pattern_finder" -> ((s, dir) =>
      graft.results.Documents.patternFinderDoc(
        PatternFinder.patternReport(
          PatternFinder.biflows(withBiflowEcho(flows(s, dir)), 500L),
          patterns, pfDist),
        "Anomaly Detection", lit(ddosSplitMs))
        .withColumn("data_array",
          concat_ws(";", transform(col("data_array"), e =>
            concat(e.getField("name"), lit(":"),
              array_join(e.getField("distribution").cast("array<string>"), "-")))))
        .withColumn("closest_patterns", array_join(col("closest_patterns"), ","))
        .orderBy("src_ip", "dst_ip")),

    "q_cidr_filter" -> ((s, dir) =>
      flows(s, dir)
        .filter(GraftFunctions.cidrMatch(col("src_ip4"), lit("10.0.100.0/24")))
        .groupBy("src_ip4")
        .agg(count(lit(1)).as("flows"))
        .orderBy("src_ip4")),

    "q_entropy" -> ((s, dir) =>
      flows(s, dir)
        .filter(col("dns_name").isNotNull)
        .select("dns_name").distinct()
        .select(col("dns_name"),
          round(TextFunctions.charEntropy(col("dns_name")), 6).as("entropy"))
        .orderBy("dns_name")),

    // --- training-data pipeline ops (documents/embeddings) -------------
    "q_doc_dedup_exact" -> ((s, dir) =>
      TextPipeline.dedupExact(Tables.documents(s, dir)).orderBy("doc_id")),

    "q_doc_dedup_hash" -> ((s, dir) =>
      TextPipeline.dedupExactByHash(Tables.documents(s, dir)).orderBy("doc_id")),

    "q_doc_stats" -> ((s, dir) =>
      TextPipeline.docStats(Tables.documents(s, dir)).orderBy("doc_id")),

    "q_doc_near_dup" -> ((s, dir) =>
      TextPipeline.nearDupJaccard(Tables.documents(s, dir), n = 2,
        minJaccard = 0.1, maxDf = 20L)
        .orderBy("doc_a", "doc_b")),

    // character-level fuzzy dedup: df-capped shingle blocking, per-pair
    // levenshtein confirm — never all-pairs
    "q_edit_distance_pairs" -> ((s, dir) =>
      TextPipeline.editDistancePairs(Tables.documents(s, dir),
        maxDist = 10, n = 2, maxDf = 20L)
        .orderBy("doc_a", "doc_b")),

    // production-posture twin at the SMOKE-measured df cap (maxDf=10,
    // the configuration the 5M skew smokes run) — in ConcurrentBench's
    // serving rotation so the heavy tier's production face has a
    // concurrent-contention record, and oracle-checked here like any row
    "q_edit_distance_capped" -> ((s, dir) =>
      TextPipeline.editDistancePairs(Tables.documents(s, dir),
        maxDist = 10, n = 2, maxDf = 10L)
        .orderBy("doc_a", "doc_b")),

    // incremental face: two ingests against an append-only store; the
    // union of increment outputs must equal the batch operator over the
    // union (uncapped — incremental caps are visibility-scoped, so the
    // cap-free configuration is the one a global-df oracle can check)
    "q_edit_distance_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val storeDir = runScratch(s, "ed_inc")
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // fresh store per run
      pipeline.IncrementalDedup
        .ingestEditDistance(storeDir, docs.filter(col("doc_id") % 2 === 0),
          maxDist = 10, n = 2)
        .union(pipeline.IncrementalDedup
          .ingestEditDistance(storeDir, docs.filter(col("doc_id") % 2 === 1),
            maxDist = 10, n = 2))
        .orderBy("doc_a", "doc_b")
    }),

    "q_minhash_candidates" -> ((s, dir) =>
      TextPipeline.minhashCandidates(Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b")),

    // hot-bucket skew guard engaged (the 100 TB configuration — a bucket
    // of d docs yields d² pairs, so over-cap buckets are dropped)
    "q_minhash_candidates_capped" -> ((s, dir) =>
      TextPipeline.minhashCandidates(Tables.documents(s, dir), maxBucket = 2L)
        .orderBy("doc_a", "doc_b")),

    "q_simhash" -> ((s, dir) =>
      TextPipeline.simhash(Tables.documents(s, dir)).orderBy("doc_id")),

    "q_lang_id" -> ((s, dir) =>
      TextPipeline.langId(Tables.documents(s, dir), langProfiles)
        .orderBy("doc_id")),

    // --- multimodal binary columns (decode is a deterministic stub) ----
    "q_media_features" -> ((s, dir) =>
      Multimodal.mediaTable(Tables.documents(s, dir))
        .select(col("media_id"), col("meta.mime").as("mime"),
          Multimodal.decodeFeatures(col("media")).as("f"),
          md5(Multimodal.resizeStub(col("media"), 64)).as("thumb_md5"))
        .select(col("media_id"), col("mime"),
          col("f.n_bytes").as("n_bytes"), col("f.checksum").as("checksum"),
          col("f.byte_sum").as("byte_sum"), col("thumb_md5"))
        .orderBy("media_id")),

    // media dedup on 16-byte digests: blobs never shuffle. The modded
    // doc_id text stands in for duplicated content (real corpora carry
    // re-posts of identical bytes)
    "q_media_dedup" -> ((s, dir) =>
      Multimodal.dedupMedia(Multimodal.mediaTable(
        Tables.documents(s, dir)
          .withColumn("text", pmod(col("doc_id"), lit(100)).cast("string"))))
        .orderBy("media_id")),

    "q_media_frames" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.mediaTable(Tables.documents(s, dir)),
        frameBytes = 32, stride = 16)
        .orderBy("media_id", "frame_idx")),

    // content-defined chunking (LBFS/FastCDC pattern): the chunk
    // inventory, the deduped chunk store, and the storage report
    "q_media_cdc" -> ((s, dir) =>
      Multimodal.cdcChunkFrame(Multimodal.mediaTable(Tables.documents(s, dir)))
        .orderBy("media_id", "chunk_idx")),

    "q_media_cdc_dedup" -> ((s, dir) =>
      Multimodal.cdcDedup(Multimodal.mediaTable(Tables.documents(s, dir)))
        .orderBy("chunk_md5")),

    "q_media_cdc_stats" -> ((s, dir) =>
      Multimodal.cdcStats(Multimodal.mediaTable(Tables.documents(s, dir)))),

    // 64-block perceptual hash halves per blob (codegen'd in-scan)
    "q_media_phash" -> ((s, dir) =>
      Multimodal.phashFrame(Multimodal.mediaTable(Tables.documents(s, dir)))
        .orderBy("media_id")),

    // banded near-dup candidates over the hash + Hamming confirm
    "q_media_phash_candidates" -> ((s, dir) =>
      Multimodal.phashCandidates(
        Multimodal.mediaTable(Tables.documents(s, dir)), maxHamming = 6)
        .orderBy("media_a", "media_b")),

    "q_embed_knn" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rank")
    }),

    "q_embed_ann_lsh" -> ((s, dir) =>
      Similarity.annLsh(Tables.embeddings(s, dir), planes = 8, minCosine = 0.2)
        .orderBy("vec_a", "vec_b")),

    "q_embed_ann_lsh_banded" -> ((s, dir) =>
      Similarity.annLshBanded(Tables.embeddings(s, dir),
        planes = 16, bands = 4, minCosine = 0.2)
        .orderBy("vec_a", "vec_b")),

    // hot-bucket skew guard engaged (dominant-cluster buckets dropped)
    "q_embed_ann_lsh_banded_capped" -> ((s, dir) =>
      Similarity.annLshBanded(Tables.embeddings(s, dir),
        planes = 16, bands = 4, minCosine = 0.2, maxBucket = 100L)
        .orderBy("vec_a", "vec_b")),

    // Johnson–Lindenstrauss sign random projection: the ±1 matrix is
    // DERIVED (portable fp47 + mod-2^31−1 avalanche), so executors and
    // the SQL oracle reproduce it without shuffling a matrix; exploded
    // to (vec_id, j, component) rows for the hash compare
    "q_embed_rp" -> ((s, dir) =>
      Projection.randomProject(Tables.embeddings(s, dir), dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "component")))
        .orderBy("vec_id", "j")),

    // chunk->document pooling stand-in: dimension-wise mean embedding
    // per label class, emitted in long form for the oracle
    "q_embed_meanpool" -> ((s, dir) =>
      Projection.meanPool(Tables.embeddings(s, dir), groupCol = "label")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .orderBy("label", "pos")),

    // one-pass scatter-matrix covariance: per-row outer product combined
    // MAP-SIDE — the shuffle carries tasks × d² partial cells, not N·d²
    "q_embed_cov" -> ((s, dir) =>
      Projection.covarianceMatrix(Tables.embeddings(s, dir))
        .orderBy("i", "j")),

    // nearest-class-mean classifier (Rocchio): class means trained on
    // vec_id % 5 != 0 in one aggregate pass, broadcast argmin scoring —
    // train AND inference oracle-checked (closed form, no iterative fit)
    "q_embed_centroid" -> ((s, dir) =>
      Projection.centroidClassify(Tables.embeddings(s, dir), testMod = 5)
        .orderBy("vec_id")),

    // trained logistic quality filter (CCNet/DCLM-style linear filter
    // over document vectors; the trained sibling of q_embed_centroid):
    // 5 full-batch GD iterations on the train split (binary target =
    // label parity), then map-only sigmoid scoring of the held-out
    // split. The fixed iteration count unrolls to SQL, so train AND
    // inference are oracle-checked end-to-end
    "q_embed_quality" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val w = Projection.trainLogistic(
        e.filter(col("vec_id") % 5 =!= 0)
          .select(col("embedding"), (col("label") % 2).as("label")),
        iters = 5, step = 2.0)
      Projection.logisticScore(e.filter(col("vec_id") % 5 === 0),
        w.toIndexedSeq)
        .orderBy("vec_id")
    }),

    // classifier eval: tie-corrected Mann-Whitney AUC of a score against
    // a binary label, ranks via distributed prefix sum (Ids.prefixSum)
    // instead of the single-partition rank() window the oracle spells
    "q_quality_auc" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Projection.aucEval(e.select(
        (aggregate(col("embedding"), lit(0.0d), (a, x) => a + x) /
          size(col("embedding"))).as("score"),
        (col("label") % 2).as("label")))
    }),

    // operating-point sweep + reliability table over the same corpus.
    // Score is the mean-pool fold (×128 gain so the squashed scores
    // SPREAD across the unit interval — at ×1 they pile into two bins
    // and the table demonstrates nothing) squashed to (0,1) by the
    // RATIONAL x -> 0.5 + x/(2(1+|x|)) — sigmoid-shaped but
    // transcendental-free, so thresholds and bin edges compare
    // bit-identically in DuckDB (exp differs in final ulps across
    // libms; a boundary flip there would be a spurious hash mismatch)
    "q_pr_thresholds" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val m = lit(128.0) *
        aggregate(col("embedding"), lit(0.0d), (a, x) => a + x) /
        size(col("embedding"))
      Projection.prAtThresholds(
        e.select((lit(0.5) + m / (lit(2.0) * (lit(1.0) + abs(m))))
            .as("score"),
          (col("label") % 2).as("label")),
        thresholds = Seq(0.1, 0.3, 0.5, 0.7, 0.9))
    }),

    "q_calibration" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val m = lit(128.0) *
        aggregate(col("embedding"), lit(0.0d), (a, x) => a + x) /
        size(col("embedding"))
      Projection.calibrationBins(
        e.select((lit(0.5) + m / (lit(2.0) * (lit(1.0) + abs(m))))
            .as("score"),
          (col("label") % 2).as("label")),
        bins = 10)
    }),

    // PR-AUC twin of q_quality_auc over the raw mean-pool score (AP is
    // squash-invariant — it only reads the ORDER — so no gain needed)
    "q_average_precision" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Projection.averagePrecision(e.select(
        (aggregate(col("embedding"), lit(0.0d), (a, x) => a + x) /
          size(col("embedding"))).as("score"),
        (col("label") % 2).as("label")))
    }),

    // PCA to 8 components: one covariance pass + driver-side d×d Jacobi
    // eigen + broadcast-literal projection. Eigendecomposition is not
    // SQL-expressible → rows-only oracle on the corpus; the VALUE-level
    // gate is q_embed_pca_fixture below
    "q_embed_pca" -> ((s, dir) =>
      Projection.pcaProject(Tables.embeddings(s, dir), k = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "component")))
        .orderBy("vec_id", "j")),

    // value-level PCA gate: the production pcaProject pipeline (one-pass
    // covariance → Jacobi eigen → canonical signs → centered projection)
    // run over a fixture whose eigenbasis is ANALYTIC — x_i = m + a_i·u
    // + b_i·v with u=(0.6,0.8), v=(−0.8,0.6) orthonormal (3-4-5), coefs
    // a=(−3,−1,1,3) / b=(0.5,−0.5,−0.5,0.5) zero-mean, uncorrelated,
    // var(a)=20/3 > var(b)=1/3 — so DuckDB recomputes the projected
    // coordinates from the closed-form basis with plain arithmetic and
    // the hash pins Jacobi + sign canon + centering + component order.
    // (Canonical sign: v's largest-|component| entry (−0.8) flips it to
    // (0.8,−0.6) → component 2 = −b_i; u is already canonical.)
    "q_embed_pca_fixture" -> ((s, dir) => {
      import s.implicits._
      val fx = Seq(
        (0L, Seq(7.8, 17.9)), (1L, Seq(9.8, 18.9)),
        (2L, Seq(11.0, 20.5)), (3L, Seq(11.4, 22.7)))
        .toDF("vec_id", "embedding")
      Projection.pcaProject(fx, k = 2)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "component")))
        .orderBy("vec_id", "j")
    }),

    "q_embed_dedup" -> ((s, dir) =>
      // banded composition (the corpus-scale path; bands ≥ 4)
      Similarity.dedupByCosine(Tables.embeddings(s, dir),
        planes = 16, minCosine = 0.9, bands = 4)
        .orderBy("vec_id")),

    // SemDeDup: cluster-then-compare semantic dedup (Abbas et al. 2023)
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), nlist = 10,
        minCosine = 0.4).orderBy("vec_id")),

    // the paper's keep rule: per confirmed pair drop the member MORE
    // similar to its centroid — keep the diversity-preserving outlier
    "q_semdedup_outlier" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), nlist = 10,
        minCosine = 0.4, keepOutlier = true).orderBy("vec_id")),

    // two-stage hybrid dedup: semantic clusters gate the candidate
    // space (never all-pairs), distinct-bigram Jaccard confirms
    // lexically; docs without an embedding pass the gate (cid null)
    "q_hybrid_dedup" -> ((s, dir) =>
      Similarity.hybridDedup(Tables.documents(s, dir),
        Tables.embeddings(s, dir), nlist = 10, n = 2, minJaccard = 0.1)
        .orderBy("doc_id")),

    // the same query over a doc_id-bucketed+sorted copy of documents
    // (the 100 TB ingest layout the r15 attribution named): the gate
    // join's scan side is pre-partitioned, so only the slim (doc_id,
    // cid) frame crosses the wire — identical rows, so it shares
    // q_hybrid_dedup's oracle; in ConcurrentBench's serving rotation
    "q_hybrid_dedup_bucketed" -> ((s, dir) =>
      Similarity.hybridDedup(bucketedDocuments(s, dir),
        Tables.embeddings(s, dir), nlist = 10, n = 2, minJaccard = 0.1)
        .orderBy("doc_id")),

    // int8-quantized exact search: integer dot products over 1-byte
    // codes, cosine of the quantized vectors
    "q_embed_knn_int8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnInt8(emb, emb.filter(col("vec_id") < 10), k = 10)
        .orderBy("query_id", "rank")
    }),

    // IVF-flat-SQ8: full-precision probes, int8 inverted lists
    "q_embed_ann_ivf_int8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvfInt8(emb, emb.filter(col("vec_id") < 10),
        nlist = 10, nprobe = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    "q_embed_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvf(emb, emb.filter(col("vec_id") < 10),
        nlist = 10, nprobe = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    // --- training-data curation (Curation) -----------------------------
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // every 50th document stands in for the benchmark/eval set
      Curation.contamination(docs, docs.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy("doc_id")
    }),

    // the Morton interleave behind Z-order layout — the NATIVE z_key
    // expression (the form zorderKey runs), replicated term-for-term by
    // the DuckDB oracle's bit arithmetic; the layout transform itself
    // only reorders rows, so proving the key is proving the operator
    "q_zorder_key" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.expressions.LayoutExpressions.zKey(Seq(
          pmod(col("l_partkey"), lit(256)).cast("long"),
          pmod(col("l_suppkey"), lit(256)).cast("long")), bits = 8)
          .as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_repetition" -> ((s, dir) =>
      Curation.repetitionStats(Tables.documents(s, dir)).orderBy("doc_id")),

    "q_redact" -> ((s, dir) =>
      // deterministic PII augmentation so the scrub has real work to do
      Curation.redact(Tables.documents(s, dir).withColumn("text",
        concat(col("text"),
          lit(" user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" 10.0."), pmod(col("doc_id"), lit(200)).cast("string"), lit(".7"),
          lit(" 4401"), lpad(pmod(col("doc_id") * 7919, lit(100000))
            .cast("string"), 5, "0"))))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_nums"),
          length(col("text_redacted")).as("redacted_len"),
          md5(col("text_redacted").cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")),

    "q_chunk" -> ((s, dir) =>
      Curation.chunk(Tables.documents(s, dir), chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")),

    // bucket-star edges → large-star/small-star CC
    "q_dedup_cluster" -> ((s, dir) =>
      Curation.clusterComponents(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // n-gram LM frequency table with the count floor applied at the
    // aggregate (singleton tail never materializes)
    "q_ngram_counts" -> ((s, dir) =>
      TextPipeline.ngramCounts(Tables.documents(s, dir), n = 2, minCount = 3L)
        .orderBy("ngram")),

    // exact duplicate-span inventory (Lee et al. 2022 restated): every
    // (doc, pos) whose 3-token gram repeats anywhere in the corpus
    "q_dup_spans" -> ((s, dir) =>
      TextPipeline.dupSpans(Tables.documents(s, dir), k = 3)
        .orderBy("doc_id", "pos")),

    // EXACT duplicate spans via truncated prefix doubling (suffix-class
    // route of Lee et al. 2021 ExactSubstr): collision-free, O(N) longs
    // per round instead of O(N·len) shingle chars — the oracle groups by
    // the literal gram STRING, so the check is exact on both sides
    "q_exact_dup_spans" -> ((s, dir) =>
      graft.pipeline.SuffixDedup.exactDupSpans(
        Tables.documents(s, dir), minLen = 3)
        .orderBy("doc_id", "pos")),

    // incremental span ingest (two batches against the append-only gram
    // store) must reproduce the batch inventory's position set exactly
    "q_dup_spans_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val storeDir = runScratch(s, "span_store")
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // fresh store per run
      pipeline.IncrementalDedup
        .ingestSpans(storeDir, docs.filter(col("doc_id") < 250))
        .union(pipeline.IncrementalDedup
          .ingestSpans(storeDir, docs.filter(col("doc_id") >= 250)))
        .orderBy("doc_id", "pos")
    }),

    // the removal half: canonical-first span dedup over the same grams
    "q_remove_dup_spans" -> ((s, dir) =>
      TextPipeline.removeDupSpans(Tables.documents(s, dir), k = 3)
        .orderBy("doc_id")),

    // CCNet-style unigram LM quality scoring: even docs train the LM,
    // every doc is scored (odd docs can hit smoothed OOV mass)
    "q_unigram_nll" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.unigramNll(docs, docs.filter(col("doc_id") % 2 === 0))
        .orderBy("doc_id")
    }),

    // per-source LM-quality gate: keep the best 80% by unigram NLL
    "q_quality_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.qualityGate(docs, docs.filter(col("doc_id") % 2 === 0),
        keepFrac = 0.8)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // CCNet perplexity bucketing: head/middle/tail label per source by
    // unigram NLL (0.25/0.5 cut fractions are exact binary doubles, so
    // the percent_rank boundary compare is engine-portable)
    "q_ppl_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.perplexityBuckets(docs, docs.filter(col("doc_id") % 2 === 0),
        headFrac = 0.25, middleFrac = 0.5)
        .orderBy("doc_id")
    }),

    // quality keep rule: per near-dup cluster keep the LONGEST member
    // (ties → min id) instead of the arbitrary min-id survivor
    "q_dedup_cluster_best" -> ((s, dir) =>
      Curation.clusterDedupBest(Tables.documents(s, dir),
        length(col("text"))).orderBy("doc_id")),

    // C4 line-level cleaning over deterministically synthesized line
    // structure (the corpus text is flat, so the query manufactures
    // lines the same way in both engines — q_redact's trick; braces are
    // injected into every 7th doc so the code-drop rule actually fires
    // under the oracle instead of passing vacuously)
    "q_c4_lines" -> ((s, dir) =>
      Curation.c4LineFilter(
        Tables.documents(s, dir).withColumn("text",
          concat(regexp_replace(col("text"), " table", ".\ntable"),
            lit("."),
            when(col("doc_id") % 7 === 0, lit(" {code}"))
              .otherwise(lit("")))),
        minWords = 3, banned = Seq("slow"), minLines = 1)
        .orderBy("doc_id")),

    // Unicode normalization + control strip + whitespace collapse over
    // text decorated with the interesting cases (the corpus itself is
    // ASCII): a decomposed e-acute that NFC composes, the U+212B
    // ANGSTROM singleton that maps to U+00C5, a BEL control, a tab and
    // doubled spaces — so the oracle exercises real normalization work
    "q_text_normalize" -> ((s, dir) =>
      TextPipeline.normalizeText(
        Tables.documents(s, dir).withColumn("text",
          concat(col("text"), lit(normalizeDecoration))))
        .orderBy("doc_id")),

    // corpus-wide duplicate-line removal over manufactured line
    // structure (q_c4_lines' trick); a boilerplate line is injected
    // into every 3rd doc so the cross-doc first-occurrence rule
    // demonstrably fires under the oracle
    "q_dedup_lines" -> ((s, dir) =>
      TextPipeline.removeDupLines(
        Tables.documents(s, dir).withColumn("text",
          concat(regexp_replace(col("text"), " table", "\ntable"),
            when(col("doc_id") % 3 === 0,
              lit("\nsubscribe to our newsletter for more updates"))
              .otherwise(lit("")))),
        minChars = 12)
        .orderBy("doc_id")),

    // DSIR importance weights: target = the same benchmark-ish slice
    // contamination uses, raw = the full corpus
    "q_dsir" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.dsirWeights(docs, docs.filter(col("doc_id") % 50 === 0),
        docs, buckets = 1024).orderBy("doc_id")
    }),

    // DSIR top-fraction selection (rank via Ids.assign range exchange,
    // no single-partition window; keep count is one broadcast row)
    "q_dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.dsirSelect(docs, docs.filter(col("doc_id") % 50 === 0),
        keepFrac = 0.25).select("doc_id", "source").orderBy("doc_id")
    }),

    // hashed-ngram Naive Bayes source classifier (the closed-form
    // fastText-filter stand-in): two count aggregates train the
    // broadcast-sized model, one explode+join pass scores the held-out
    // split; integer micro-unit log-liks make the argmax portable
    "q_nb_classify" -> ((s, dir) =>
      Curation.nbClassify(Tables.documents(s, dir), labelCol = "source",
        testMod = 5, buckets = 1024).orderBy("doc_id")),

    // fixed-size deterministic per-source draw (window top-k over the
    // scrambled-id order — WindowGroupLimit, no global sort)
    "q_sample_exact" -> ((s, dir) =>
      Curation.sampleExactPerSource(Tables.documents(s, dir), k = 20)
        .select("doc_id", "source").orderBy("doc_id")),

    // contiguous 0..N-1 ids via range partitioning + partition-count
    // offsets (scale/Ids) — row_number() semantics without the
    // single-partition window
    "q_assign_ids" -> ((s, dir) =>
      graft.scale.Ids.assign(
        Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
        .orderBy("doc_id")),

    "q_sample_mix" -> ((s, dir) =>
      Curation.sampleBySource(Tables.documents(s, dir),
        Map("src0" -> 0L, "src1" -> 250000L, "src2" -> 500000L))
        .select("doc_id", "source").orderBy("doc_id")),

    // per-source snapshot drift: smoothed unigram KL(cur||prev) in the
    // micro-unit fixed point. Snapshot split on (doc_id div 20) parity —
    // doc_id % 20 IS the source in this testdata, so a plain-parity
    // split would starve alternating sources of one whole snapshot
    "q_corpus_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.corpusDrift(
        docs.filter(expr("(doc_id div 20) % 2") === 0),
        docs.filter(expr("(doc_id div 20) % 2") === 1))
        .orderBy("source")
    }),

    // token-budget mixture solver: corpus-composition aggregate joined
    // to the broadcast target-weight table; exact integer allocation.
    // srcX is deliberately absent from the corpus — the outer join must
    // surface it (total_tokens=0, epochs=null) instead of silently
    // dropping its budget share (r14 ADVICE)
    "q_mixture_solve" -> ((s, dir) =>
      Curation.mixtureSolve(Tables.documents(s, dir),
        Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L, "srcX" -> 2L),
        tokenBudget = 1000000L)
        .orderBy("source")),

    // --- URL curation tier (pipeline/UrlCuration): map-only regex
    // canonicalization + registered-domain extraction, then dedup/cap
    // aggregations on the canonical keys. URLs are synthesized
    // deterministically (documents has no url column) with a DuckDB
    // twin, so the whole tier is hash-checked end to end.
    "q_url_canonical" -> ((s, dir) =>
      UrlCuration.synthUrls(Tables.documents(s, dir).select("doc_id", "source"))
        .select(col("doc_id"), col("url"),
          UrlCuration.canonicalizeUrl(col("url")).as("url_canon"))
        .orderBy("doc_id")),

    "q_url_domains" -> ((s, dir) =>
      UrlCuration.synthUrls(Tables.documents(s, dir).select("doc_id", "source"))
        .select(UrlCuration.registeredDomain(col("url")).as("domain"),
          UrlCuration.canonicalizeUrl(col("url")).as("url_canon"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_canon")).as("n_urls"))
        .orderBy("domain")),

    "q_url_dedup" -> ((s, dir) =>
      UrlCuration.urlDedup(
        UrlCuration.synthUrls(Tables.documents(s, dir).select("doc_id", "source")))
        .orderBy("url_canon")),

    // domain-level prior joined back: one bounded-key aggregate,
    // broadcast rejoin; integer token score keeps the mean engine-exact
    "q_url_domain_prior" -> ((s, dir) =>
      UrlCuration.domainPrior(
        UrlCuration.synthUrls(
          Tables.documents(s, dir).select("doc_id", "source", "text")),
        TextFunctions.tokenCount(col("text")))
        .select("doc_id", "domain", "n_domain_docs", "domain_mean")
        .orderBy("doc_id")),

    "q_url_blocklist_cap" -> ((s, dir) => {
      import s.implicits._
      val blocked = Seq("site3.com", "site7.co.uk", "site11.net",
        "site5.com.au").toDF("domain")
      UrlCuration.blocklistAndCap(
        UrlCuration.synthUrls(Tables.documents(s, dir).select("doc_id", "source")),
        blocked, k = 5)
        .select("doc_id", "domain").orderBy("doc_id")
    }),

    // concat-and-cut sequence packing: global token offsets via the
    // distributed exclusive prefix sum (scale/Ids.prefixSum) — the
    // oracle runs the canonical single-partition running-sum window SQL
    "q_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(Tables.documents(s, dir), seqLen = 256)
        .orderBy("doc_id")),

    // the loader-facing explode: per-(sequence, doc) token slices
    "q_pack_spans" -> ((s, dir) =>
      Curation.packSpans(Tables.documents(s, dir), seqLen = 256)
        .orderBy("seq_id", "doc_id")),

    // token-balanced shard manifest: same prefix-sum pass, grand total
    // from driver metadata (no second corpus scan)
    // export-integrity manifest: per-shard docs/tokens + order-
    // independent bit_xor content checksum over the portable fp47
    "q_shard_manifest" -> ((s, dir) =>
      Curation.shardManifest(Tables.documents(s, dir), nShards = 16)),

    "q_shard_tokens" -> ((s, dir) =>
      Curation.shardByTokens(Tables.documents(s, dir), nShards = 16)
        .orderBy("doc_id")),

    // deterministic corpus shuffle: contiguous position in the
    // scrambled-id permutation (resumable epoch order)
    "q_shuffle_order" -> ((s, dir) =>
      Curation.shuffleOrder(Tables.documents(s, dir)
        .select("doc_id", "source")).orderBy("doc_id")),

    // epoch 3's permutation: the prime offset slides the LCG draw
    "q_shuffle_epoch" -> ((s, dir) =>
      Curation.shuffleOrder(Tables.documents(s, dir)
        .select("doc_id", "source"), epoch = 3).orderBy("doc_id")),

    // short-to-long curriculum position (score = char length)
    "q_curriculum" -> ((s, dir) =>
      Curation.curriculumOrder(Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text")),
        length(col("text")).cast("long"))
        .select("doc_id", "source", "pos").orderBy("doc_id")),

    // proportional source interleave: doc k of n lands at (k+1)/(n+1)
    "q_interleave" -> ((s, dir) =>
      Curation.interleaveBySources(Tables.documents(s, dir)
          .select("doc_id", "source"))
        .select("doc_id", "source", "pos").orderBy("doc_id")),

    // n-gram novelty vs the same reference slice contamination uses
    "q_novelty" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.novelty(docs, docs.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy("doc_id")
    }),

    "q_curate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.curate(docs, docs.filter(col("doc_id") % 50 === 0),
        ratesPpm = Map("src0" -> 0L, "src1" -> 250000L, "src2" -> 500000L))
        .orderBy("doc_id", "chunk_id")
    }),

    // tileTarget spreads the degenerate band bucket's d² pair generation
    // over tile-pair keys — identical output (oracle-checked), but the
    // single 9s reducer task becomes ~T²/2 parallel tasks
    "q_simhash_candidates" -> ((s, dir) =>
      TextPipeline.simhashCandidates(Tables.documents(s, dir),
          tileTarget = 500L)
        .orderBy("doc_a", "doc_b")),

    // incremental ingest (two batches against an append-only band-key
    // store) must reproduce the batch candidate set exactly
    "q_minhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val storeDir = runScratch(s, "inc_dedup")
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // fresh store per run
      pipeline.IncrementalDedup.ingest(storeDir, docs.filter(col("doc_id") < 250))
        .union(
          pipeline.IncrementalDedup.ingest(storeDir, docs.filter(col("doc_id") >= 250)))
        .orderBy("doc_a", "doc_b")
    }),

    // incremental SemDeDup: two-batch ingest against a quantizer FROZEN
    // from the first batch; the union is every within-cluster confirmed
    // pair over the full corpus, each emitted exactly once
    "q_semdedup_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val storeDir = runScratch(s, "sem_dedup")
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // fresh store per run
      pipeline.IncrementalDedup.ingestSemantic(storeDir,
          emb.filter(col("vec_id") < 250), nlist = 10, minCosine = 0.4)
        .union(pipeline.IncrementalDedup.ingestSemantic(storeDir,
          emb.filter(col("vec_id") >= 250), nlist = 10, minCosine = 0.4))
        .orderBy("vec_a", "vec_b")
    }),

    // skew guard engaged: at sf0.01 one band bucket holds ALL 500 docs
    // (degenerate band under the tiny synthetic vocabulary) — exactly the
    // hot-bucket shape the cap exists for
    "q_simhash_candidates_capped" -> ((s, dir) =>
      TextPipeline.simhashCandidates(Tables.documents(s, dir), maxBucket = 100L)
        .orderBy("doc_a", "doc_b")),

    // the 94-bit wide-signature tier: the at-scale simhash configuration
    // (the 47-bit band space saturates past ~10^6 docs — measured recall
    // collapse in the 5M smoke), cap engaged so the oracle exercises the
    // capped path end-to-end
    "q_simhash_candidates_wide" -> ((s, dir) =>
      TextPipeline.simhashCandidatesWide(Tables.documents(s, dir),
          maxHamming = 3, maxBucket = 100L)
        .orderBy("doc_a", "doc_b")),

    "q_pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(Tables.embeddings(s, dir)).orderBy("vec_id")),

    "q_embed_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annPq(emb, emb.filter(col("vec_id") < 10),
        m = 4, ksub = 16, k = 10)
        .orderBy("query_id", "rank")
    }),

    "q_embed_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 10),
        nlist = 10, nprobe = 3, m = 4, ksub = 16, k = 10)
        .orderBy("query_id", "rank")
    }),

    // the build-once / search-many path: encode the corpus into a
    // persisted index (parquet, codes partitioned by inverted list),
    // reload it, search — must equal the monolithic annIvfPq exactly
    "q_embed_ann_ivfpq_idx" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = runScratch(s, "ivfpq_idx")
      pipeline.IvfPqIndex.build(emb, nlist = 10, m = 4, ksub = 16).save(idxDir)
      pipeline.IvfPqIndex.load(s, idxDir)
        .search(emb.filter(col("vec_id") < 10), nprobe = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    // incremental-ingest twin of the persisted-index path: HALF the
    // corpus built+saved, the other half committed via the exactly-once
    // staged batch append (appendBatchTo — atomic dir rename, idempotent
    // per batch id), reload, search. Codes re-derive bit-identically
    // against the frozen quantizer/codebook, so the oracle is the SAME
    // monolithic annIvfPq SQL — the batch-append commit protocol itself
    // sits on the hash-checked path
    "q_embed_ann_ivfpq_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = runScratch(s, "ivfpq_batch")
      val full = pipeline.IvfPqIndex.build(emb, nlist = 10, m = 4, ksub = 16)
      full.copy(codes = full.codes.filter(col("vec_id") % 2 === 0))
        .save(idxDir)
      full.appendBatchTo(idxDir, "b1", emb.filter(col("vec_id") % 2 === 1))
      pipeline.IvfPqIndex.load(s, idxDir)
        .search(emb.filter(col("vec_id") < 10), nprobe = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    // two-stage refined search: ADC ranks 10 candidates, exact cosine
    // over full vectors re-ranks the candidate set to the final top-5
    "q_embed_ann_refine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pipeline.IvfPqIndex.build(emb, nlist = 10, m = 4, ksub = 16)
        .searchRefined(emb.filter(col("vec_id") < 10), emb,
          nprobe = 3, kCandidates = 10, k = 5)
        .orderBy("query_id", "rank")
    }),

    // incremental add: drop half the codes, re-encode that half through
    // append() against the FROZEN quantizer/codebook — search must be
    // bit-identical to the monolithic index (same oracle)
    "q_embed_ann_ivfpq_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = pipeline.IvfPqIndex.build(emb, nlist = 10, m = 4, ksub = 16)
      idx.copy(codes = idx.codes.filter(col("vec_id") % 2 === 0))
        .append(emb.filter(col("vec_id") % 2 === 1))
        .search(emb.filter(col("vec_id") < 10), nprobe = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.annIvf(emb, queries, nlist = 10, nprobe = 3, k = 10),
        Similarity.knnBruteForce(emb, queries, 10), k = 10)
        .orderBy("query_id")
    }),

    "q_embed_ann_ivfpq_res" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvfPqResidual(emb, emb.filter(col("vec_id") < 10),
        nlist = 10, nprobe = 3, m = 4, ksub = 16, k = 10)
        .orderBy("query_id", "rank")
    }),

    "q_corpus_report" -> ((s, dir) =>
      Curation.corpusReport(Tables.documents(s, dir)).orderBy("source")),

    "q_corpus_quantiles" -> ((s, dir) =>
      Curation.corpusQuantiles(Tables.documents(s, dir)).orderBy("source")),

    // C4-style sub-document dedup: chunk the corpus, then exact-dedup the
    // CHUNKS across documents (md5 keys) — repeated boilerplate passages
    // collapse even when their parent documents differ. Pure composition
    // of chunk + the md5-keyed dedup shape.
    "q_chunk_dedup" -> ((s, dir) =>
      Curation.chunk(Tables.documents(s, dir), chunkSize = 16, stride = 16)
        .groupBy(md5(col("chunk_text").cast("binary")).as("chunk_md5"))
        .agg(min(struct(col("doc_id"), col("chunk_id"))).as("first"),
          count(lit(1)).as("dup_count"))
        .select(col("first.doc_id").as("doc_id"),
          col("first.chunk_id").as("chunk_id"), col("dup_count"))
        .orderBy("doc_id", "chunk_id")),

    "q_split" -> ((s, dir) =>
      Curation.assignSplit(Tables.documents(s, dir),
        valPpm = 100000L, testPpm = 100000L)
        .select("doc_id", "split").orderBy("doc_id")),

    "q_vocab_top" -> ((s, dir) =>
      TextPipeline.vocab(Tables.documents(s, dir), topK = 100)
        .orderBy(col("cnt").desc, col("token").asc)),

    "q_bpe_pairs" -> ((s, dir) =>
      TextPipeline.bpePairCounts(Tables.documents(s, dir), topK = 100)
        .orderBy(col("cnt").desc, col("pair").asc)),

    "q_tfidf" -> ((s, dir) =>
      TextPipeline.tfidfKeywords(Tables.documents(s, dir), k = 5)
        .orderBy("doc_id", "rank")),

    // JSONL ingestion round trip: the documents table serialized to the
    // crawl-dump interchange format and re-ingested through the explicit-
    // schema reader must reproduce it exactly (ids carried, source kept)
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val scratch = runScratch(s, "jsonl_rt")
      Tables.documents(s, dir)
        .select(to_json(struct(col("doc_id").as("id"), col("text"),
          col("source"))).as("value"))
        .write.mode("overwrite").text(scratch)
      graft.core.CorpusSource.readJsonl(s, scratch).orderBy("doc_id")
    }),

    "q_dedup_normalized" -> ((s, dir) =>
      TextPipeline.dedupExactNormalized(Tables.documents(s, dir))
        .orderBy("doc_id")),

    "q_kmeans" -> ((s, dir) =>
      Similarity.kmeansLloyd(Tables.embeddings(s, dir), k = 8, iters = 2)
        .orderBy("vec_id")),

    // cluster-quality report over the kmeans assignment: per cluster,
    // size + majority label + purity — the "are the clusters real"
    // check before semantic dedup/labeling trusts them. Two bounded
    // hash aggregates over (cid, label)
    "q_cluster_purity" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.kmeansLloyd(e, k = 8, iters = 2)
        .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("cid").agg(
          sum("cnt").as("n_vecs"),
          max_by(col("label"), struct(col("cnt"), -col("label")))
            .as("majority_label"),
          round(max("cnt").cast("double") / sum("cnt"), 6).as("purity"))
        .orderBy("cid")
    }),

    // LSH-gated margin mining — the at-scale form: candidates from the
    // band-bucket equi-join, identical margin arithmetic over them
    "q_margin_mine_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.marginNeighborsLsh(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        planes = 16, bands = 4, k = 4, minMargin = 1.0)
        .orderBy("query_id")
    }),

    // margin-based cross-corpus mining: even-id vectors query the odd-id
    // half — the bitext/aligned-pair miner with hub penalization
    "q_margin_mine" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.marginNeighbors(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        k = 4, minMargin = 1.0)
        .orderBy("query_id")
    }),

    "q_bm25" -> ((s, dir) =>
      TextPipeline.bm25(Tables.documents(s, dir),
        Seq("spark", "stream", "filter"), topK = 20)
        .orderBy("rank")),

    // single-scan Deequ-style corpus gate: every constraint's metric in
    // one agg pass; the oracle replicates the whole report in ANSI SQL
    "q_quality_checks" -> ((s, dir) => {
      import graft.scale.Checks
      Checks.report(s, Tables.documents(s, dir), Seq(
        Checks.size(100),
        Checks.completeness("text", 0.99),
        Checks.uniqueness(0.999, "doc_id"),
        Checks.meanOf("n_chars", 100.0, 500.0),
        Checks.minOf("n_chars", 1.0),
        Checks.patternFraction("text", "[0-9]", 0.05),
        Checks.inSetFraction("lang", Seq("en", "de", "fr"), 0.5)))
        .orderBy("check")
    }),

    // Gopher-family compression-ratio quality signal (native deflate
    // expression; rows-only — zlib is not replicable in DuckDB SQL)
    "q_compression_ratio" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.expressions.TextExpressions.deflateRatio(col("text"))
          .as("deflate_ratio"))
        .orderBy("doc_id")),

    // exact integer twin of the ratio signal: raw + compressed byte
    // counts from the PRODUCTION codegen expression, hash-compared
    // against a fixture parquet materialized by an independent plain
    // Deflater loop (Verify.dataOracles) — catches expression/codegen
    // bugs the rounded double can hide. %7 id subset: the twin gates
    // the implementation, not the corpus
    "q_compression_ratio_exact" -> ((s, dir) =>
      Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("text_len"),
          graft.expressions.TextExpressions.deflateLen(col("text"))
            .as("deflate_len"))
        .orderBy("doc_id")),

    // cross-source contamination matrix over trigram fp47 sets
    "q_source_overlap" -> ((s, dir) =>
      Curation.sourceOverlap(Tables.documents(s, dir), n = 3)
        .orderBy("source_a", "source_b")),

    // snapshot diff: prev = %5!=0 ids with %7==0 texts modified,
    // cur = %11!=0 ids → added/removed/changed partitions are disjoint
    // deterministic id classes; unchanged rows must NOT appear
    "q_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(lit("MOD "), col("text"))).otherwise(col("text")))
      val cur = docs.filter(col("doc_id") % 11 =!= 0)
      Curation.corpusDiff(prev, cur).orderBy("doc_id")
    }),

    // run-over-run drift screen: "previous run" = the even-id half of
    // the corpus, "current" = all of it → size doubles (anomalous at
    // maxRelChange 0.5), mean/pattern stay put (not anomalous)
    "q_quality_anomaly" -> ((s, dir) => {
      import graft.scale.Checks
      val docs = Tables.documents(s, dir)
      val checks = Seq(Checks.size(1), Checks.meanOf("n_chars", 0.0, 1e9),
        Checks.patternFraction("text", "[0-9]", 0.0))
      val prev = Checks.report(s, docs.filter(col("doc_id") % 2 === 0), checks)
        .select(lit("r1").as("run_id"), col("check"), col("value"))
      Checks.anomalies(Checks.report(s, docs, checks), prev, maxRelChange = 0.5)
        .orderBy("check")
    }),

    "q_winnow_native" -> ((s, dir) =>
      TextPipeline.winnowFingerprintsNative(Tables.documents(s, dir), k = 5, w = 4)
        .orderBy("doc_id", "pos")),

    "q_winnow_candidates" -> ((s, dir) =>
      TextPipeline.winnowCandidates(Tables.documents(s, dir), k = 3, w = 4,
        minShared = 2)
        .orderBy("doc_a", "doc_b")),

    // two-batch winnow ingest: the union of increments equals the batch
    // candidates over the full corpus (shared-count exact at emission)
    "q_winnow_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val storeDir = runScratch(s, "winnow_inc")
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // fresh store per run
      pipeline.IncrementalDedup
        .ingestWinnow(storeDir, docs.filter(col("doc_id") < 250), k = 3, w = 4)
        .union(pipeline.IncrementalDedup
          .ingestWinnow(storeDir, docs.filter(col("doc_id") >= 250), k = 3, w = 4))
        .orderBy("doc_a", "doc_b")
    }),

    // BPE training is iterative (argmax per round) — not expressible as a
    // single static SQL string, so these two get DATA-DEPENDENT oracles:
    // Verify calls [[dataOracles]] at dump time, which re-learns the
    // merges with the independent in-memory RefBpe trainer and embeds
    // them as SQL literals (pinned merge table for train; a full DuckDB
    // recursive-CTE re-encode for encode).
    "q_bpe_train" -> ((s, dir) =>
      TextPipeline.bpeMerges(Tables.documents(s, dir), numMerges = 24)
        .orderBy("rank")),

    // production-vocab path: up to 8 mutually-disjoint merges adopted
    // per job (ceil(24/8) = 3 pair-count jobs instead of 24); oracle =
    // the independent RefBpe.trainBatched twin, embedded at dump time
    "q_bpe_train_batched" -> ((s, dir) => {
      import s.implicits._
      TextPipeline.bpeTrain(Tables.documents(s, dir),
          numMerges = 24, batchSize = 8)
        .zipWithIndex.map { case ((p, c), i) => (i, p, c) }
        .toDF("rank", "pair", "cnt").orderBy("rank")
    }),

    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextPipeline.bpeTrain(docs, numMerges = 24).map(_._1)
      docs.select(col("doc_id"),
          graft.expressions.TextExpressions.bpeEncode(col("text"), merges)
            .as("subwords"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("subwords")).as("n_subwords"),
          size(col("toks")).as("n_words"),
          // string, not array<string>: the driver's pandas-side compare
          // sorts/hashes cell values and cannot hash array cells
          array_join(slice(col("subwords"), 1, 8), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    "q_ts_anomaly" -> ((s, dir) =>
      TimeSeriesAnomaly(eventsMs(s, dir), Seq("event_type"), "ts_ms", "value",
          bucketMs = 3600000L, lookback = 24, minPoints = 12,
          zThreshold = 2.0)
        .orderBy("event_type", "bucket_ms")),
  )

  /** Headline queries Bench runs at sf0.1. The last four are the heavy
    * tier — the queries that actually exercise scale shapes (iterative
    * connected components, banded candidate joins, the composed curation
    * pipeline, IVF-PQ ADC) — kept in the headline set so round-over-round
    * regressions there are visible, not just the ~1 s floor-dominated
    * queries. */
  val benchQueries: Seq[String] = Seq(
    "q1_agg", "q_join_region_revenue", "q_protocols_statistics",
    "q_host_stats", "q_top_n_host_stats", "q_dns_statistics",
    "q_dns_external_resolvers", "q_pattern_finder",
    "q_doc_stats", "q_doc_near_dup", "q_embed_knn",
    "q_minhash_candidates", "q_simhash", "q_media_frames",
    "q_embed_ann_ivf", "q_media_features",
    "q_dedup_cluster", "q_simhash_candidates", "q_curate",
    "q_embed_ann_ivfpq",
    // capped twin of q_simhash_candidates: tracks what the hot-bucket
    // skew guard saves (the 100 TB configuration)
    "q_simhash_candidates_capped",
    // round-9 tier: span-level dedup (inventory + removal) and the
    // unigram-LM quality scan — the corpus-linear text passes
    "q_dup_spans", "q_remove_dup_spans", "q_unigram_nll",
    // round-10: sequence packing — the distributed prefix sum + explode
    "q_pack_spans",
    // round-10: SemDeDup — cluster-scoped embedding dedup
    "q_semdedup",
    // round-10: CCNet buckets (NLL scan + per-source window) and the
    // quality-keep cluster dedup (CC + max_by over components)
    "q_ppl_buckets", "q_dedup_cluster_best",
    // round-10: corpus-wide line dedup (min-struct keeper + line-keyed
    // join) and DSIR hashed-ngram importance weights
    "q_dedup_lines", "q_dsir",
    // round-11: hybrid dedup — semantic clusters gate, n-gram Jaccard
    // confirms (real pairwise volume through the cluster-scoped join)
    "q_hybrid_dedup",
    // round-11: winnowing — MOSS local fingerprinting, a corpus-linear
    // zero-shuffle pass in the native expression
    "q_winnow_native",
    // round-12: content-defined chunking — the native boundary scan vs
    // DuckDB's per-position explode (the CDC storage-dedup pass)
    "q_media_cdc",
    // round-12: cross-source contamination matrix — distinct-gram agg
    // on 8-byte keys with C(#sources,2)-bounded pair fanout
    "q_source_overlap",
    // round-12: media perceptual near-dup — in-scan codegen block hash,
    // banded pairs, bit_count confirm
    "q_media_phash_candidates",
    // round-13: corpus text normalization — native unicode_normalize +
    // control strip + whitespace collapse as one narrow projection vs
    // DuckDB nfc_normalize + the same RE2 classes
    "q_text_normalize",
    // round-16: the production-posture simhash tier (94-bit wide
    // signature, the fix for the 47-bit band-space saturation the 5M
    // smoke measured) gets an official per-round wall-time row
    "q_simhash_candidates_wide",
    // round-16: character-level fuzzy dedup (df-capped poly-47 shingle
    // blocking + levenshtein confirm) — smoke-measured to 5M docs but
    // previously absent from the official record
    "q_edit_distance_pairs")

  // ---------------------------------------------------------------------
  // DuckDB oracles. `flows` CTE = FlowSynth.cteSql (identical mapping).
  // ---------------------------------------------------------------------

  private val protoNameSql =
    "CASE WHEN protocol = 6 THEN 'tcp' WHEN protocol = 17 THEN 'udp' ELSE 'other' END"
  private val srcIpSql = "COALESCE(src_ip4, src_ip6)"

  private def caseFromMap(m: Map[Int, String], keyExpr: String, default: String): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN $k THEN '$v'" }
      .mkString(s"CASE $keyExpr ", " ", s" ELSE '$default' END")

  private val flagSumsSql = graft.functions.BitFunctions.tcpFlagNames.zipWithIndex
    .map { case (n, i) =>
      s"CAST(SUM(CASE WHEN protocol = 6 THEN (tcp_flags >> $i) & 1 ELSE 0 END) AS BIGINT) AS flag_${n.toLowerCase}"
    }.mkString(",\n        ")

  private val serversSqlList = dnsServers.map(ip => s"'$ip'").mkString("(", ",", ")")

  private val stopwordsSqlList =
    TextPipeline.defaultStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  private val tlsDictValues = tlsDict.map(e =>
    s"('${e.suites}','${e.device_type}','${e.operating_system}','${e.application}','${e.browser}')")
    .mkString(",\n    ")

  /** q_text_normalize's decoration: decomposed e + U+0301 (NFC composes),
    * U+212B ANGSTROM (NFC singleton → U+00C5), BEL control, tab, doubled
    * spaces — appended to every (ASCII) document so the normalization
    * oracle does real work. Shared verbatim by the query and the SQL
    * twin's literal. */
  private val normalizeDecoration =
    " Cafe\u0301  \u212B x\u0007y\tz"

  /** SQL twins of TextFunctions (DuckDB list-lambda dialect). */
  private val toksSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)"""
  private def fpSql(expr: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($expr) + 1), i -> CAST(ascii(substr($expr, CAST(i AS INT), 1)) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 140737488355213)"""
  /** Winnowing fingerprint CTE chain (k-gram size, window w) — the SQL
    * twin of [[TextPipeline.winnowFingerprintsNative]], sharing its
    * arithmetic rightmost-min encoding (hash·2¹⁶ + (2¹⁶-1-pos), plain
    * window min). */
  private def winnowFpSql(k: Int, w: Int): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(toks) < $k THEN []
       |    ELSE list_transform(range(1, len(toks) - ${k - 2}),
       |           i -> array_to_string(toks[i:i+${k - 1}], ' ')) END AS grams
       |  FROM t
       |), g AS (
       |  SELECT doc_id, unnest(range(0, len(grams))) AS gpos,
       |         unnest(list_transform(grams, w -> ${fpSql("w")})) AS h
       |  FROM sh WHERE len(grams) > 0
       |), m AS (
       |  SELECT doc_id, gpos,
       |    min(h * 65536 + (65535 - gpos)) OVER (PARTITION BY doc_id
       |      ORDER BY gpos ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS sel
       |  FROM g
       |), fp AS (
       |  SELECT DISTINCT doc_id, CAST(65535 - (sel % 65536) AS INT) AS pos,
       |    sel // 65536 AS fp
       |  FROM m WHERE gpos >= ${w - 1}
       |)""".stripMargin

  /** Content-defined chunking CTE chain — the SQL twin of
    * [[graft.multimodal.Multimodal.cdcChunkFrame]] (w=8, divisor=32):
    * boundary after char position `ep` when the poly-47 hash of the
    * 8-char gram ending there is ≡ 0 mod 32; final cut at end-of-string;
    * chunks between consecutive cuts. Ends with the
    * `chunks(media_id, chunk_idx, off, len, chunk_md5)` CTE. */
  /** CTE chain → (media_id, ph_hi, ph_lo): the 64-block perceptual hash
    * (`TextUtil.mediaPhash`) replayed over the blob's hex dump — block
    * boundaries ⌊i·n/64⌋, bit i = blockSum·64 > totalSum, bits packed
    * into two 32-bit halves so no BIGINT ever overflows. */
  private def mediaPhashCtes: String =
    """m AS (SELECT doc_id AS media_id, text AS media FROM documents),
      |bb AS (
      |  SELECT media_id,
      |    list_transform(regexp_extract_all(hex(media::BLOB), '..'),
      |      p -> (CASE WHEN ascii(p[1]) >= 65 THEN ascii(p[1]) - 55
      |            ELSE ascii(p[1]) - 48 END) * 16
      |         + (CASE WHEN ascii(p[2]) >= 65 THEN ascii(p[2]) - 55
      |            ELSE ascii(p[2]) - 48 END)) AS bytes
      |  FROM m),
      |ss AS (
      |  SELECT media_id,
      |    list_transform(range(0, 64), i ->
      |      COALESCE(list_sum(bytes[i * len(bytes) // 64 + 1
      |                            : (i + 1) * len(bytes) // 64]), 0)) AS sums
      |  FROM bb),
      |hh AS (SELECT media_id, sums, list_sum(sums) AS total FROM ss),
      |ph AS (
      |  SELECT media_id,
      |    CAST(COALESCE(list_sum(list_transform(range(0, 32), i ->
      |      CASE WHEN sums[CAST(i + 1 AS INT)] * 64 > total
      |           THEN 1::BIGINT << CAST(31 - i AS INT) ELSE 0::BIGINT END)),
      |      0) AS BIGINT) AS ph_hi,
      |    CAST(COALESCE(list_sum(list_transform(range(32, 64), i ->
      |      CASE WHEN sums[CAST(i + 1 AS INT)] * 64 > total
      |           THEN 1::BIGINT << CAST(63 - i AS INT) ELSE 0::BIGINT END)),
      |      0) AS BIGINT) AS ph_lo
      |  FROM hh)""".stripMargin

  // Unit note: the engine-side q_media_cdc* run the BYTE-level path on
  // the binary media column (no UTF-8 assumption — the production blob
  // semantics); this SQL twin chunks the same content in code-point
  // units over `text`. The corpus is ASCII (spec-asserted in
  // TestdataContractSpec), where byte and code-point units coincide, so
  // the twin is exact here; a non-ASCII corpus would compare the
  // string-path (cast to string) engine query instead.
  private def cdcChunksSql: String =
    s"""m AS (SELECT doc_id AS media_id, text FROM documents),
       |cpos AS (
       |  SELECT media_id, text, unnest(range(8, length(text) + 1)) AS ep FROM m
       |), cb AS (
       |  SELECT media_id, ep FROM cpos
       |  WHERE ${fpSql("substr(text, CAST(ep - 7 AS INT), 8)")} % 32 = 0
       |), cuts AS (
       |  SELECT DISTINCT media_id, ep FROM (
       |    SELECT media_id, ep FROM cb
       |    UNION ALL SELECT media_id, length(text) AS ep FROM m WHERE length(text) > 0)
       |), ch AS (
       |  SELECT media_id, ep AS end_pos,
       |    coalesce(lag(ep) OVER (PARTITION BY media_id ORDER BY ep), 0) AS start_pos,
       |    row_number() OVER (PARTITION BY media_id ORDER BY ep) - 1 AS chunk_idx
       |  FROM cuts
       |), chunks AS (
       |  SELECT ch.media_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |    CAST(start_pos + 1 AS INT) AS off,
       |    CAST(end_pos - start_pos AS INT) AS len,
       |    md5(substr(m.text, CAST(start_pos + 1 AS INT),
       |        CAST(end_pos - start_pos AS INT))) AS chunk_md5
       |  FROM ch JOIN m USING (media_id)
       |)""".stripMargin

  /** The IVF-PQ ADC candidate CTE chain (deterministic sample quantizer,
    * coarse assignment, probes, per-sub query tables, fixed-point ADC) —
    * shared by the plain, index, append, and REFINED ivfpq oracles. Ends
    * with the `adc(query_id, nbr_id, d2u)` CTE. */
  private def adcCtes(): String =
    s"""$eCte, ${pqAsgCtes()}, c2 AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), coarse AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c2.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c2.cv")}, 6) DESC, c2.cid ASC) AS rn
         |    FROM e, c2) WHERE rn = 1
         |), probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT e.vec_id AS query_id, c2.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c2.cv")}, 6) DESC, c2.cid ASC) AS crn
         |    FROM e, c2 WHERE e.vec_id < 10) WHERE crn <= 3
         |), qs AS (
         |  SELECT e.vec_id AS query_id, CAST(s.sub AS BIGINT) AS sub,
         |    v[CAST(s.sub * (len(v) // 4) + 1 AS INT):CAST(CASE WHEN s.sub = 3 THEN len(v) ELSE (s.sub + 1) * (len(v) // 4) END AS INT)] AS sv
         |  FROM e, (SELECT unnest(range(0, 4)) AS sub) s
         |  WHERE e.vec_id < 10
         |), qt AS (
         |  SELECT qs.query_id, qs.sub, cb.code,
         |    CAST(round(${l2Sql("qs.sv", "cb.csv")} * 1000000.0) AS BIGINT) AS qd2u
         |  FROM qs JOIN cb ON cb.sub = qs.sub
         |), adc AS (
         |  SELECT qt.query_id, asg.vec_id AS nbr_id, sum(qt.qd2u) AS d2u
         |  FROM asg
         |  JOIN coarse ON coarse.vec_id = asg.vec_id
         |  JOIN probes ON probes.cid = coarse.cid
         |  JOIN qt ON qt.query_id = probes.query_id
         |         AND qt.sub = asg.sub AND qt.code = asg.code
         |  GROUP BY qt.query_id, asg.vec_id
         |)""".stripMargin

  /** Lloyd k-means CTE chain — the SQL twin of
    * [[graft.pipeline.Similarity.kmeansLloyd]]: deterministic lowest-id
    * init, `iters` (assign → 6-dp-rounded dimension means) rounds, final
    * assignment `af` with the left-fold L2². */
  private def kmeansSql(k: Int, iters: Int): String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, vec, cid, l2 FROM (
         |    SELECT vec_id, vec, cid, l2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY l2, cid) AS rn
         |    FROM (SELECT e.vec_id, e.vec, c.cid,
         |            ${l2Sql("e.vec", "c.vec")} AS l2
         |          FROM e CROSS JOIN $cents c)
         |  ) WHERE rn = 1
         |)"""
    def updateCte(name: String, assigned: String) =
      s"""$name AS (
         |  SELECT cid, list(m ORDER BY d) AS vec FROM (
         |    SELECT cid, d, round(avg(v), 6) AS m FROM (
         |      SELECT cid, unnest(vec) AS v,
         |             generate_subscripts(vec, 1) AS d FROM $assigned
         |    ) GROUP BY cid, d
         |  ) GROUP BY cid
         |)"""
    val steps = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + updateCte(s"c$i", s"a$i")
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vec
       |  FROM (SELECT vec_id, vec FROM e ORDER BY vec_id LIMIT $k)
       |),
       |$steps,
       |${assignCte("af", s"c$iters")}""".stripMargin
  }

  /** One unrolled full-batch GD iteration for the logistic oracle:
    * residuals (pinned left-fold dot against the previous weight list) →
    * per-dimension gradient cells → updated weight list. The weight CTE
    * is cross-joined, not subqueried — DuckDB lambdas reject subqueries. */
  private def lrIterSql(k: Int, step: Double): String =
    s"""r$k AS (SELECT xa, 1.0/(1.0 + exp(-(${dotSql("xa", "pw.w")}))) - y AS r FROM t, w${k - 1} pw),
       |u$k AS (SELECT r, unnest(list_transform(range(1, len(xa) + 1),
       |    i -> struct_pack(i := CAST(i AS INT), x := xa[CAST(i AS INT)]))) AS p FROM r$k),
       |g$k AS (SELECT p.i AS i, sum(p.x * r) AS s FROM u$k GROUP BY 1),
       |w$k AS (SELECT list(pw.w[g.i] - $step * g.s / (SELECT n FROM meta) ORDER BY g.i) AS w
       |        FROM g$k g, w${k - 1} pw)""".stripMargin

  /** Left-fold dot product — same summation order as VectorFunctions. */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])), (x, y) -> x + y)"
  /** SQL twin of Curation.ppmHash: salted fingerprint → LCG avalanche →
    * ppm space. */
  private def ppmSql(salt: String) =
    s"((${fpSql(s"('$salt:' || CAST(doc_id AS VARCHAR))")} % 1048576) * 2654435761 + 40503) % 1000000"

  /** Left-fold Σ(a-b)² — same summation order as VectorFunctions.l2Squared. */
  private def l2Sql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))), (x, y) -> x + y)"

  /** DuckDB dual of TimeFunctions.isoTimestamp (UTC session on both sides). */
  private def isoSql(ms: String) =
    s"strftime(epoch_ms($ms), '%Y-%m-%dT%H:%M:%S.%g') || 'Z'"

  private def cosSql(a: String, b: String) =
    s"(CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) = 0 THEN 0.0 ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END)"

  private def qfDistSql(p: Seq[Double]) =
    s"""round(sqrt(
       |      ((req_end_ms - req_start_ms - ${p(0)}) / ${p(0)}) ^ 2
       |      + ((req_packets - ${p(1)}) / ${p(1)}) ^ 2
       |      + ((req_bytes - ${p(2)}) / ${p(2)}) ^ 2
       |      + ((rsp_packets - ${p(3)}) / ${p(3)}) ^ 2
       |      + ((rsp_bytes - ${p(4)}) / ${p(4)}) ^ 2), 6)""".stripMargin

  /** Shared CTE chain → (doc_id, bucket) minhash LSH band buckets — the
    * SQL twin of TextPipeline.minhashLsh(n=3, k=16, bands=4). Used by
    * q_minhash_candidates, q_dedup_cluster and q_curate; `src` is the
    * (sub)query naming the corpus to bucket. */
  private def minhashBucketCtes(src: String = "documents") =
    s"""t AS (
       |  SELECT doc_id, $toksSql AS toks FROM $src
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> array_to_string(toks[i:i+2], ' '))) END AS shingles
       |  FROM t
       |), h AS (
       |  SELECT doc_id, list_transform(shingles, w -> ${fpSql("w")}) AS hashes
       |  FROM sh WHERE len(shingles) > 0
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0, 16), i ->
       |    list_min(list_transform(hashes,
       |      hh -> (hh * (2 * i + 1) + 31 * i + 7) % 140737488355213))) AS sig
       |  FROM h
       |), bk AS (
       |  -- the engine's band key is a poly-31 fold of the band's
       |  -- signature values seeded with the band index (8-byte longs
       |  -- through the shuffle instead of band-value strings); apply
       |  -- the IDENTICAL fold so collisions agree on both sides
       |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
       |    list_reduce(list_prepend(CAST(b AS BIGINT),
       |      sig[CAST(b * 4 + 1 AS INT):CAST(b * 4 + 4 AS INT)]),
       |      (acc, c) -> (acc * 31 + c) % 140737488355213))) AS bucket
       |  FROM sig
       |)""".stripMargin

  /** SQL twin of the shared hot-bucket skew guard
    * (TextPipeline.capBuckets / annLshBanded maxBucket): keep only
    * entries of buckets at or under the cap. `src` must expose a
    * `bucket` column plus `keyCol`. */
  private def capBucketsSql(src: String, keyCol: String, maxBucket: Long) =
    s"""kept AS (
       |  SELECT bucket FROM $src GROUP BY bucket HAVING count(*) <= $maxBucket
       |), ${src}c AS (
       |  SELECT $src.$keyCol, $src.bucket FROM $src JOIN kept USING (bucket)
       |)""".stripMargin

  /** q_embed_ann_lsh_banded oracle, optionally with the bucket cap
    * engaged — one builder for both rows so they can't drift. */
  /** Sign-LSH bucket CTE chain (16 planes, 4 bands — the lshBucket
    * derivation in SQL): `e` (id, v) → `s` (sign string) → `bk`
    * (id, bucket). Shared by the banded-ANN and the LSH-gated margin
    * oracles. */
  private val lshBucketCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), s AS (
       |  SELECT vec_id, list_reduce(list_transform(range(0, 16), pl ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(v) + 1), i ->
       |        v[CAST(i AS INT)] * (CAST(((CAST(i - 1 AS BIGINT) * 2654435761
       |          + pl * 40503 + 12345) % 1048576
       |          * ((CAST(i - 1 AS BIGINT) * 2654435761
       |          + pl * 40503 + 12345) % 1048576 + 1) // 2)
       |          % 1048576 AS DOUBLE) / 524288.0 - 1.0))),
       |      (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END),
       |    (x, y) -> x || y) AS signs
       |  FROM e
       |), bk AS (
       |  SELECT vec_id, unnest(list_transform(range(0, 4), b ->
       |    CAST(b AS VARCHAR) || '_' || substr(signs, CAST(b * 4 + 1 AS INT), 4)))
       |    AS bucket
       |  FROM s
       |)""".stripMargin

  private def lshBandedOracle(maxBucket: Long): String = {
    val (capCte, bkt) =
      if (maxBucket <= 0L) ("", "bk")
      else (", " + capBucketsSql("bk", "vec_id", maxBucket), "bkc")
    s"""WITH $lshBucketCtes$capCte, pairs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM $bkt a JOIN $bkt c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |)
       |SELECT vec_a, vec_b,
       |  round(${cosSql("ea.v", "eb.v")}, 4) AS cosine
       |FROM pairs
       |JOIN e ea ON ea.vec_id = vec_a
       |JOIN e eb ON eb.vec_id = vec_b
       |WHERE round(${cosSql("ea.v", "eb.v")}, 4) >= 0.2
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** q_simhash_candidates oracle, optionally with the bucket cap engaged
    * (maxBucket <= 0 → uncapped; the two variants must share one SQL
    * builder so the capped row can't drift from the green uncapped one). */
  private def simhashCandidatesOracle(maxBucket: Long): String = {
    val (capCte, bkt) =
      if (maxBucket <= 0L) ("", "sb")
      else (", " + capBucketsSql("sb", "doc_id", maxBucket), "sbc")
    s"""WITH $simhashCtes, sb AS (
       |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
       |    CAST(b AS VARCHAR) || '_' || CAST(
       |      (simhash >> CAST(b * 11 AS INT)) &
       |      (CASE WHEN b = 3 THEN (CAST(1 AS BIGINT) << 14) - 1
       |            ELSE 2047 END) AS VARCHAR))) AS bucket
       |  FROM sim
       |)$capCte, cp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM $bkt a JOIN $bkt c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
       |)
       |SELECT cp.doc_a, cp.doc_b,
       |  CAST(bit_count(xor(sa.simhash, sc.simhash)) AS INT) AS hamming
       |FROM cp
       |JOIN sim sa ON sa.doc_id = cp.doc_a
       |JOIN sim sc ON sc.doc_id = cp.doc_b
       |WHERE bit_count(xor(sa.simhash, sc.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared CTE chain → (doc_id, simhash) — the SQL twin of
    * TextPipeline.simhash. Used by q_simhash and q_simhash_candidates. */
  private val simhashCtes =
    s"""t AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents
       |), h AS (
       |  SELECT doc_id, list_transform(toks, w -> ${fpSql("w")}) AS hashes FROM t
       |), sim AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 47), k ->
       |    CASE WHEN COALESCE(list_sum(list_transform(hashes, hh ->
       |           CASE WHEN (hh >> k) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |         THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS simhash
       |  FROM h
       |)""".stripMargin

  /** q_simhash_candidates_wide oracle: the 94-bit tier in SQL — second
    * vote fold over the affine remap (`(hh>>23)·48271 + (hh&(2^23−1))·
    * 16807 + 11213 mod 2^47−115`, TextUtil.polyRemap47's arithmetic
    * verbatim), long band keys `band·2^25 + value` over the 23/24-bit
    * splits of both signatures, hamming summed across both folds. */
  private def simhashWideOracle(maxBucket: Long): String = {
    val (capCte, bkt) =
      if (maxBucket <= 0L) ("", "sb")
      else (", " + capBucketsSql("sb", "doc_id", maxBucket), "sbc")
    s"""WITH $simhashCtes, h2 AS (
       |  SELECT doc_id, list_transform(hashes, hh ->
       |    ((hh >> 23) * 48271 + (hh & 8388607) * 16807 + 11213)
       |      % 140737488355213) AS hashes FROM h
       |), sim2 AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 47), k ->
       |    CASE WHEN COALESCE(list_sum(list_transform(hashes, hh ->
       |           CASE WHEN (hh >> k) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |         THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS simhash2
       |  FROM h2
       |), simw AS (
       |  SELECT sim.doc_id, sim.simhash AS s1, sim2.simhash2 AS s2
       |  FROM sim JOIN sim2 USING (doc_id)
       |), sb AS (
       |  SELECT doc_id, unnest([
       |    0 * 33554432 + (s1 & 8388607),
       |    1 * 33554432 + (s1 >> 23),
       |    2 * 33554432 + (s2 & 8388607),
       |    3 * 33554432 + (s2 >> 23)]) AS bucket
       |  FROM simw
       |)$capCte, cp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM $bkt a JOIN $bkt c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
       |)
       |SELECT cp.doc_a, cp.doc_b,
       |  CAST(bit_count(xor(sa.s1, sc.s1)) + bit_count(xor(sa.s2, sc.s2))
       |    AS INT) AS hamming
       |FROM cp
       |JOIN simw sa ON sa.doc_id = cp.doc_a
       |JOIN simw sc ON sc.doc_id = cp.doc_b
       |WHERE bit_count(xor(sa.s1, sc.s1)) + bit_count(xor(sa.s2, sc.s2)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val eCte =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |)""".stripMargin

  /** Shared CTE chain → PQ codebook (cb: sub, code, csv) and per-(vector,
    * subspace) code assignment (asg: vec_id, sub, code) over the vector
    * CTE `src` (v column) — the SQL twin of Similarity.pqAssign(m=4,
    * ksub=16). Used by q_pq_codes, q_embed_ann_pq, q_embed_ann_ivfpq and
    * (over residuals) q_embed_ann_ivfpq_res. */
  private def pqAsgCtes(src: String = "e") =
    s"""c AS (
       |  SELECT vec_id AS pcid, v AS cv FROM $src
       |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
       |  LIMIT 16
       |), coded AS (
       |  SELECT pcid, cv, CAST(row_number() OVER (ORDER BY pcid) - 1 AS INT) AS code
       |  FROM c
       |), cb AS (
       |  SELECT code, CAST(s.sub AS BIGINT) AS sub,
       |    cv[CAST(s.sub * (len(cv) // 4) + 1 AS INT):CAST(CASE WHEN s.sub = 3 THEN len(cv) ELSE (s.sub + 1) * (len(cv) // 4) END AS INT)] AS csv
       |  FROM coded, (SELECT unnest(range(0, 4)) AS sub) s
       |), es AS (
       |  SELECT $src.vec_id, CAST(s.sub AS BIGINT) AS sub,
       |    v[CAST(s.sub * (len(v) // 4) + 1 AS INT):CAST(CASE WHEN s.sub = 3 THEN len(v) ELSE (s.sub + 1) * (len(v) // 4) END AS INT)] AS sv
       |  FROM $src, (SELECT unnest(range(0, 4)) AS sub) s
       |), asg AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT es.vec_id, es.sub, cb.code,
       |      row_number() OVER (PARTITION BY es.vec_id, es.sub
       |        ORDER BY CAST(round(${l2Sql("es.sv", "cb.csv")} * 1000000.0) AS BIGINT) ASC,
       |                 cb.code ASC) AS rn
       |    FROM es JOIN cb ON cb.sub = es.sub)
       |  WHERE rn = 1
       |)""".stripMargin

  /** Parameter rewrite for a derived oracle that must not silently
    * no-op: if the base SQL is ever reworded so `from` no longer
    * appears, a plain replace would hand the derived query the BASE
    * oracle and the twin would be checked against the wrong answer. */
  private def assertEdited(sql: String, from: String, to: String): String = {
    require(sql.contains(from),
      s"derived oracle rewrite lost its anchor: '$from' not in base SQL")
    sql.replace(from, to)
  }

  def oracleSql: Map[String, String] = baseOracles +
    // bucketed-layout twin computes identical rows — same oracle
    ("q_hybrid_dedup_bucketed" -> baseOracles("q_hybrid_dedup")) +
    // production df cap: same oracle SQL at the tighter threshold (the
    // cap is the only parameter; assertEdited guards the rewrite)
    ("q_edit_distance_capped" -> assertEdited(
      baseOracles("q_edit_distance_pairs"), "df <= 20", "df <= 10")) +
    // persisted-index search must equal the monolithic IVF-PQ — same oracle
    ("q_embed_ann_ivfpq_idx" -> baseOracles("q_embed_ann_ivfpq")) +
    // so must the half-build + exactly-once batch-append path
    ("q_embed_ann_ivfpq_batch" -> baseOracles("q_embed_ann_ivfpq")) +
    // frozen-table append must search exactly like the monolithic index
    ("q_embed_ann_ivfpq_append" -> baseOracles("q_embed_ann_ivfpq")) +
    // quality gate = percent_rank cut over the unigram-NLL sub-oracle
    ("q_quality_gate" ->
      s"""WITH nll AS (
         |${baseOracles("q_unigram_nll")}
         |)
         |SELECT doc_id, source FROM (
         |  SELECT d.doc_id, d.source, percent_rank() OVER (
         |    PARTITION BY d.source
         |    ORDER BY nll.avg_nll ASC, d.doc_id ASC) AS pr
         |  FROM documents d JOIN nll USING (doc_id))
         |WHERE pr <= 0.8 ORDER BY doc_id""".stripMargin) +
    // CCNet buckets = CASE over the same percent_rank + NLL sub-oracle
    ("q_ppl_buckets" ->
      s"""WITH nll AS (
         |${baseOracles("q_unigram_nll")}
         |)
         |SELECT doc_id, source, avg_nll,
         |  CASE WHEN pr <= 0.25 THEN 'head'
         |       WHEN pr <= 0.75 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM (
         |  SELECT d.doc_id, d.source, nll.avg_nll, percent_rank() OVER (
         |    PARTITION BY d.source
         |    ORDER BY nll.avg_nll ASC, d.doc_id ASC) AS pr
         |  FROM documents d JOIN nll USING (doc_id))
         |ORDER BY doc_id""".stripMargin) +
    // longest-member keep rule over the same recursive-closure components
    ("q_dedup_cluster_best" ->
      s"""WITH comp AS (
         |${baseOracles("q_dedup_cluster")}
         |)
         |SELECT doc_id FROM (
         |  SELECT comp.doc_id, row_number() OVER (
         |    PARTITION BY comp.component
         |    ORDER BY length(d.text) DESC, comp.doc_id ASC) AS rn
         |  FROM comp JOIN documents d USING (doc_id))
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin) +
    // incremental two-batch ingest reproduces the batch candidate set
    ("q_minhash_incremental" -> baseOracles("q_minhash_candidates")) +
    // incremental span ingest reproduces the batch position inventory
    ("q_dup_spans_incremental" ->
      s"""SELECT doc_id, pos FROM (
         |${baseOracles("q_dup_spans")}
         |) ORDER BY doc_id, pos""".stripMargin) +
    // recall@10 of probe-limited IVF vs brute-force ground truth — pure
    // composition of the two sub-oracles (full WITH queries are legal
    // derived tables in DuckDB)
    ("q_ann_recall" ->
      s"""WITH approx AS (
         |${baseOracles("q_embed_ann_ivf")}
         |), exact AS (
         |${baseOracles("q_embed_knn")}
         |), hits AS (
         |  SELECT e.query_id, count(*) AS h
         |  FROM exact e JOIN approx a
         |    ON a.query_id = e.query_id AND a.nbr_id = e.nbr_id
         |  GROUP BY e.query_id
         |), truth AS (
         |  SELECT query_id, count(*) AS t FROM exact GROUP BY query_id
         |)
         |SELECT truth.query_id AS query_id, round(COALESCE(h, 0) * 1.0 / t, 4) AS recall
         |FROM truth LEFT JOIN hits ON hits.query_id = truth.query_id
         |ORDER BY truth.query_id""".stripMargin)

  /** Oracles whose SQL depends on the data (the BPE merge list is learned
    * from the corpus, so a static string can't carry it). Verify calls
    * this with the sf dir before dumping oracle_sql.json. The merges are
    * re-learned by [[RefBpe]] — an independent in-memory implementation,
    * not the Spark pipeline under test — and embedded as SQL literals;
    * collecting the 500-doc text column here is Verify-fixture code, not
    * an engine path. */
  def dataOracles(spark: SparkSession, dir: String): Map[String, String] = {
    val texts = Tables.documents(spark, dir)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val merges = RefBpe.train(texts, numMerges = 24, minPairCount = 2L)
    val batched = RefBpe.trainBatched(texts, numMerges = 24, batchSize = 8,
      minPairCount = 2L)
    Map(
      "q_bpe_train" -> RefBpe.trainOracleSql(merges),
      "q_bpe_train_batched" -> RefBpe.trainOracleSql(batched),
      "q_bpe_encode" -> RefBpe.encodeOracleSql(merges),
      "q_compression_ratio_exact" -> deflateFixtureOracle(spark, dir),
      "q_embed_pca" -> pcaFullOracle(spark, dir))
  }

  /** Full-corpus value oracle for q_embed_pca (closes the registry's
    * last rows-only gap — r18 verdict optional task): the mean vector
    * and eigenbasis are driver-side metadata derived by the SAME
    * deterministic pipeline the query runs (rounded covariance cells →
    * Jacobi → canonical signs; the derivation itself is bracketed by the
    * oracle-checked covariance and the analytic q_embed_pca_fixture), so
    * they embed as SQL literals and DuckDB re-derives every projected
    * component over the corpus with the identical left-fold
    * Σ w_i·(v_i − mu_i): shortest-round-trip double literals parse back
    * to the same bits, so the 6-dp rounds agree exactly. */
  private def pcaFullOracle(s: SparkSession, dir: String): String = {
    val (mu, basis) = pipeline.Projection.pcaMuBasis(
      Tables.embeddings(s, dir), k = 8)
    def arr(xs: Seq[Double]) = xs.mkString("[", ", ", "]")
    val rows = basis.zipWithIndex
      .map { case (w, j) => s"($j, ${arr(w)}::DOUBLE[])" }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), m AS (SELECT ${arr(mu)}::DOUBLE[] AS mu),
       |b(j, w) AS (VALUES
       |    $rows)
       |SELECT e.vec_id, b.j,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, ${mu.size + 1}), i ->
       |      w[CAST(i AS INT)] * (v[CAST(i AS INT)] - mu[CAST(i AS INT)]))),
       |    (x, y) -> x + y), 6) + 0.0 AS component
       |FROM e, m, b
       |ORDER BY e.vec_id, b.j""".stripMargin
  }

  /** Materialize the deflate byte counts of the %7 doc subset through
    * an INDEPENDENT plain-Deflater map (Dataset API, no Catalyst
    * expression, its own buffer loop) to a per-sfDir fixture parquet,
    * and return the oracle SQL reading it — the exact-integer gate for
    * the production `deflate_len`/`deflate_ratio` codegen expression.
    * Overwritten on every oracle generation: the fixture must describe
    * THIS corpus, never a stale one. */
  private def deflateFixtureOracle(s: SparkSession, dir: String): String = {
    import s.implicits._
    // path carries a sanitized dir suffix AND the session applicationId
    // (mirroring bucketedDocuments + runScratch): a bare dir.hashCode is
    // 32-bit-collision-prone, and two concurrent sessions sharing
    // java.io.tmpdir must not overwrite the fixture while the other's
    // DuckDB oracle pass is reading it
    val safe = dir.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+", "").takeRight(40)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_fixture_deflate_" +
      s"${safe}_${s.sparkContext.applicationId}.parquet"
    Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val raw = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        val out =
          try {
            d.setInput(raw); d.finish()
            val buf = new Array[Byte](8192) // deliberately small: chunked
            var total = 0L                  // drain, unlike the expression
            while (!d.finished()) total += d.deflate(buf)
            total
          } finally d.end()
        (id, raw.length.toLong, if (raw.isEmpty) 0L else out)
      }
      .toDF("doc_id", "text_len", "deflate_len")
      .coalesce(1).write.mode("overwrite").parquet(path)
    s"""SELECT doc_id, text_len, deflate_len
       |FROM read_parquet('$path/*.parquet')
       |ORDER BY doc_id""".stripMargin
  }

  private lazy val baseOracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_join_region_revenue" ->
      """SELECT r_name, n_name,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_supplier_nation_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS volume,
        |  count(DISTINCT s_suppkey) AS n_suppliers,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_part_type_share" ->
      """SELECT p_type,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_read_totals" ->
      """SELECT count(*) AS n_events,
        |  round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE epoch_ms(ts) >= (SELECT max(epoch_ms(ts)) FROM events) - 432000000""".stripMargin,

    "q_read_latest_per_pair" ->
      """SELECT user_id, event_type, event_id, ts_ms, round(value, 2) AS value
        |FROM (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_rollup_revenue" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,

    "q_read_histogram" ->
      """SELECT epoch_ms(ts) - epoch_ms(ts) % 86400000 AS bucket_ms, event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_hll_distinct_exact" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_exact
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_hll_retention_exact" ->
      """WITH d AS (
        |  SELECT DISTINCT event_type, epoch_ms(ts) // 86400000 AS day, user_id
        |  FROM events
        |)
        |SELECT a.event_type, a.day, count(*) AS exact_returning
        |FROM d a JOIN d b ON a.event_type = b.event_type
        |  AND a.day + 1 = b.day AND a.user_id = b.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_cms_topk_exact" ->
      """SELECT user_id AS item, count(*) AS exact_count
        |FROM events GROUP BY 1
        |ORDER BY exact_count DESC, item ASC LIMIT 20""".stripMargin,

    "q_quantile_sketch_exact" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS exact_p50,
        |  round(quantile_cont(value, 0.9), 6) AS exact_p90,
        |  round(quantile_cont(value, 0.99), 6) AS exact_p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_read_top_contributor" ->
      """WITH per AS (
        |  SELECT event_type, user_id, round(sum(value), 2) AS user_value,
        |         count(*) AS user_events
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, round(sum(value), 2) AS total_value,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1
        |), top AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY user_value DESC, user_id ASC) AS rn
        |    FROM per) WHERE rn = 1
        |)
        |SELECT event_type, total_value, n_events, user_id, user_value, user_events
        |FROM top JOIN tot USING (event_type) ORDER BY event_type""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        |), per AS (
        |  SELECT user_id,
        |    list_sort(list_filter(list(CASE WHEN event_type = 'view'
        |      THEN ts_ms END), x -> x IS NOT NULL)) AS l0,
        |    list_sort(list_filter(list(CASE WHEN event_type = 'click'
        |      THEN ts_ms END), x -> x IS NOT NULL)) AS l1,
        |    list_sort(list_filter(list(CASE WHEN event_type = 'purchase'
        |      THEN ts_ms END), x -> x IS NOT NULL)) AS l2
        |  FROM e GROUP BY user_id
        |), s0 AS (
        |  SELECT user_id, list_aggregate(l0, 'min') AS t0, l1, l2 FROM per
        |), s1 AS (
        |  SELECT user_id, t0,
        |    list_aggregate(list_filter(l1, x -> x > t0), 'min') AS t1, l2
        |  FROM s0
        |), s2 AS (
        |  SELECT user_id, t0, t1,
        |    list_aggregate(list_filter(l2, x -> x > t1), 'min') AS t2
        |  FROM s1
        |)
        |SELECT * FROM (
        |  SELECT 0 AS step_idx, 'view' AS step, count(t0) AS users FROM s2
        |  UNION ALL SELECT 1, 'click', count(t1) FROM s2
        |  UNION ALL SELECT 2, 'purchase', count(t2) FROM s2)
        |ORDER BY step_idx""".stripMargin,

    "q_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
        |), f AS (
        |  SELECT user_id,
        |    CAST(floor(min(ts_ms) / 86400000.0) AS BIGINT) AS cohort_period
        |  FROM e GROUP BY user_id
        |)
        |SELECT cohort_period,
        |  CAST(floor(ts_ms / 86400000.0) AS BIGINT) - cohort_period
        |    AS period_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
        |), flagged AS (
        |  SELECT user_id, ts_ms, event_id,
        |    CASE WHEN lag(ts_ms) OVER w IS NULL
        |           OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), sess AS (
        |  SELECT user_id, ts_ms,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events,
        |  min(ts_ms) AS session_start_ms,
        |  max(ts_ms) AS session_end_ms
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
        |), p AS (
        |  SELECT event_id, user_id, ts_ms FROM e WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, ts_ms AS click_ms, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2
        |)
        |SELECT p.event_id, p.user_id, p.ts_ms, c.click_id, c.click_ms AS asof_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_ms >= c.click_ms
        |ORDER BY p.event_id""".stripMargin,

    "q_range_join" ->
      """WITH e AS (
        |  SELECT event_id, epoch_ms(ts) AS start_ms,
        |    epoch_ms(ts) + CAST(floor(value) AS BIGINT) * 1000 AS end_ms
        |  FROM events
        |)
        |SELECT a.event_id AS a_id, b.event_id AS b_id,
        |  a.start_ms AS a_start, b.start_ms AS b_start
        |FROM e a, e b
        |WHERE a.event_id < b.event_id
        |  AND a.start_ms <= b.end_ms AND b.start_ms <= a.end_ms
        |ORDER BY a_id, b_id""".stripMargin,

    "q_flows_synth" -> FlowSynth.oracle("SELECT * FROM flows ORDER BY flow_id"),

    // PageRank unrolled to 3 iterations in integer nano-units with
    // floor division (// in DuckDB, div in Spark) — exact cross-engine
    // parity by construction, no float-summation-order risk.
    "q_host_rank" -> FlowSynth.oracle {
      def iter(prev: String, cur: String) =
        s"""c$cur AS (
           |  SELECT e.dst AS node,
           |    CAST(sum(r$prev.rank_u // od.outdeg) AS BIGINT) AS in_mass
           |  FROM r$prev JOIN od ON od.src = r$prev.node
           |  JOIN e ON e.src = r$prev.node
           |  GROUP BY 1
           |), r$cur AS (
           |  SELECT nodes.node,
           |    CAST((SELECT base_u FROM nn)
           |      + COALESCE(c$cur.in_mass, 0) * 85 // 100 AS BIGINT)
           |      AS rank_u
           |  FROM nodes LEFT JOIN c$cur USING (node)
           |)""".stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT COALESCE(src_ip4, src_ip6) AS src, dst_ip AS dst
         |  FROM flows
         |), nodes AS (
         |  SELECT src AS node FROM e UNION SELECT dst FROM e
         |), nn AS (
         |  SELECT count(*) AS n,
         |    (CAST(1000000000 AS BIGINT) * 15 // 100) // count(*) AS base_u,
         |    CAST(1000000000 AS BIGINT) // count(*) AS r0_u
         |  FROM nodes
         |),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, (SELECT r0_u FROM nn) AS rank_u FROM nodes),
         |${iter("0", "1")},
         |${iter("1", "2")},
         |${iter("2", "3")}
         |SELECT node, rank_u,
         |  CAST(rank_u AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS rank
         |FROM r3 ORDER BY node""".stripMargin
    },

    "q_protocols_statistics" -> FlowSynth.oracle(
      s"""SELECT start_ms - (start_ms % 3600000) AS window_start_ms,
         |  $protoNameSql AS protocol,
         |  count(*) AS flows,
         |  CAST(sum(packets) AS BIGINT) AS packets,
         |  CAST(sum(bytes) AS BIGINT) AS bytes
         |FROM flows
         |WHERE protocol IS NOT NULL AND packets IS NOT NULL
         |  AND bytes IS NOT NULL AND start_ms IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_host_stats" -> FlowSynth.oracle(
      s"""SELECT $srcIpSql AS src_ip,
         |  count(*) AS flows,
         |  CAST(sum(packets) AS BIGINT) AS packets,
         |  CAST(sum(bytes) AS BIGINT) AS bytes,
         |  round(avg(end_ms - start_ms) / 1000, 4) AS avg_duration_s,
         |  count(DISTINCT dst_port) AS dport_count,
         |  count(DISTINCT dst_ip) AS peer_number,
         |  $flagSumsSql
         |FROM flows
         |WHERE $srcIpSql IS NOT NULL AND packets IS NOT NULL AND bytes IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_top_n_host_stats" -> FlowSynth.oracle(
      s"""WITH e AS (
         |  SELECT $srcIpSql AS src_ip, 'dst_port' AS stat_type,
         |         CAST(dst_port AS VARCHAR) AS key FROM flows
         |  UNION ALL
         |  SELECT $srcIpSql, 'dst_ip', dst_ip FROM flows
         |  UNION ALL
         |  SELECT $srcIpSql, 'http_host', http_host FROM flows
         |), c AS (
         |  SELECT src_ip, stat_type, key, count(*) AS flows FROM e
         |  WHERE src_ip IS NOT NULL AND key IS NOT NULL
         |  GROUP BY 1, 2, 3
         |)
         |SELECT src_ip, stat_type, key, flows, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY src_ip, stat_type ORDER BY flows DESC, key ASC) AS rank
         |  FROM c) WHERE rank <= 10
         |ORDER BY src_ip, stat_type, rank""".stripMargin),

    "q_portscan" -> FlowSynth.oracle(
      """WITH syn AS (
        |  SELECT * FROM flows
        |  WHERE protocol = 6 AND tcp_flags IS NOT NULL AND (tcp_flags & 31) = 2
        |    AND src_ip4 IS NOT NULL AND dst_ip IS NOT NULL AND dst_port IS NOT NULL
        |), h AS (
        |  SELECT 'horizontal' AS scan_type, src_ip4 AS src_ip,
        |         CAST(dst_port AS VARCHAR) AS key, count(*) AS flows,
        |         count(DISTINCT dst_ip) AS targets_total,
        |         CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
        |         CAST(max(end_ms) AS BIGINT) AS last_seen_ms
        |  FROM syn GROUP BY 2, 3 HAVING count(DISTINCT dst_ip) >= 2
        |), v AS (
        |  SELECT 'vertical' AS scan_type, src_ip4 AS src_ip,
        |         dst_ip AS key, count(*) AS flows,
        |         count(DISTINCT dst_port) AS targets_total,
        |         CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
        |         CAST(max(end_ms) AS BIGINT) AS last_seen_ms
        |  FROM syn GROUP BY 2, 3 HAVING count(DISTINCT dst_port) >= 2
        |)
        |SELECT * FROM h UNION ALL SELECT * FROM v
        |ORDER BY scan_type, src_ip, key""".stripMargin),

    "q_ssh_auth" -> FlowSynth.oracle(
      s"""SELECT $srcIpSql AS src_ip, dst_ip,
         |  count(*) AS flows,
         |  round(avg(packets), 4) AS average_packet_count,
         |  CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
         |  CAST(max(end_ms) AS BIGINT) AS last_seen_ms
         |FROM flows
         |WHERE protocol = 6 AND dst_port = 22 AND src_port > 1024
         |  AND packets > 10 AND packets < 20
         |  AND bytes > 1800 AND bytes < 5000
         |  AND (end_ms - start_ms) < 12000
         |GROUP BY 1, 2 HAVING count(*) >= 1
         |ORDER BY 1, 2""".stripMargin),

    "q_dns_statistics" -> FlowSynth.oracle(
      s"""WITH dns AS (
         |  SELECT *, ((dns_flags >> 15) & 1) = 1 AS is_resp, dns_flags & 15 AS rcode
         |  FROM flows WHERE dns_name IS NOT NULL AND dns_flags IS NOT NULL
         |), e AS (
         |  SELECT 'queried_domain' AS stat_type,
         |         CASE WHEN NOT is_resp THEN dns_name END AS key FROM dns
         |  UNION ALL
         |  SELECT 'qtype', CASE WHEN NOT is_resp THEN
         |    ${caseFromMap(DnsFunctions.qtypeNames, "dns_qtype", "OTHER")} END FROM dns
         |  UNION ALL
         |  SELECT 'rcode', CASE WHEN is_resp THEN
         |    ${caseFromMap(DnsFunctions.rcodeNames, "rcode", "Unknown")} END FROM dns
         |  UNION ALL
         |  SELECT 'nxdomain_by_domain',
         |         CASE WHEN is_resp AND rcode = 3 THEN dns_name END FROM dns
         |  UNION ALL
         |  SELECT 'queried_by_ip',
         |         CASE WHEN NOT is_resp THEN $srcIpSql END FROM dns
         |)
         |SELECT stat_type, key, value FROM (
         |  SELECT stat_type, key, count(*) AS value,
         |         row_number() OVER (PARTITION BY stat_type
         |           ORDER BY count(*) DESC, key ASC) AS rank
         |  FROM e WHERE key IS NOT NULL GROUP BY 1, 2)
         |WHERE rank <= 100
         |ORDER BY stat_type, value DESC, key""".stripMargin),

    "q_doc_dns_stats_ip" -> FlowSynth.oracle(
      s"""WITH dns AS (
         |  SELECT *, ((dns_flags >> 15) & 1) = 1 AS is_resp, dns_flags & 15 AS rcode
         |  FROM flows WHERE dns_name IS NOT NULL AND dns_flags IS NOT NULL
         |), e AS (
         |  SELECT 'queried_domain' AS stat_type,
         |         CASE WHEN NOT is_resp THEN dns_name END AS key,
         |         $srcIpSql AS ip FROM dns
         |  UNION ALL
         |  SELECT 'qtype', CASE WHEN NOT is_resp THEN
         |    ${caseFromMap(DnsFunctions.qtypeNames, "dns_qtype", "OTHER")} END,
         |    $srcIpSql FROM dns
         |  UNION ALL
         |  SELECT 'rcode', CASE WHEN is_resp THEN
         |    ${caseFromMap(DnsFunctions.rcodeNames, "rcode", "Unknown")} END,
         |    $srcIpSql FROM dns
         |  UNION ALL
         |  SELECT 'nxdomain_by_domain',
         |         CASE WHEN is_resp AND rcode = 3 THEN dns_name END,
         |         $srcIpSql FROM dns
         |  UNION ALL
         |  SELECT 'queried_by_ip',
         |         CASE WHEN NOT is_resp THEN $srcIpSql END,
         |         $srcIpSql FROM dns
         |), c AS (
         |  SELECT stat_type, key, ip, count(*) AS cnt FROM e
         |  WHERE key IS NOT NULL AND ip IS NOT NULL GROUP BY 1, 2, 3
         |), s AS (
         |  SELECT stat_type, key, ip, cnt,
         |    sum(cnt) OVER (PARTITION BY stat_type, key) AS value,
         |    row_number() OVER (PARTITION BY stat_type, key
         |      ORDER BY cnt DESC, ip ASC) AS rn
         |  FROM c
         |), t AS (
         |  SELECT stat_type, key, CAST(value AS BIGINT) AS value, ip
         |  FROM s WHERE rn = 1
         |)
         |SELECT 'dns_statistics' AS "@type",
         |  epoch_ms($ddosSplitMs) AS "@timestamp",
         |  stat_type AS "@stat_type",
         |  array_to_string(list(key || ':' || value || ':' || ip
         |    ORDER BY key, value, ip), ';') AS data_array
         |FROM t GROUP BY stat_type ORDER BY stat_type""".stripMargin),

    "q_ddos" -> FlowSynth.oracle(
      s"""WITH f AS (
         |  SELECT * FROM flows
         |  WHERE protocol IS NOT NULL AND packets IS NOT NULL
         |    AND src_ip4 IS NOT NULL AND dst_ip IS NOT NULL
         |    AND regexp_matches(dst_ip, '192\\.168\\..*')
         |), s AS (
         |  SELECT dst_ip, CAST(sum(packets) AS BIGINT) AS packets_short,
         |         count(*) AS flows_short
         |  FROM f WHERE start_ms >= $ddosSplitMs GROUP BY 1
         |), l AS (
         |  SELECT dst_ip, CAST(sum(packets) AS BIGINT) AS packets_long,
         |         count(*) AS flows_long
         |  FROM f WHERE start_ms < $ddosSplitMs GROUP BY 1
         |), a AS (
         |  SELECT dst_ip, string_agg(DISTINCT src_ip4, ',' ORDER BY src_ip4) AS attackers
         |  FROM f WHERE start_ms >= $ddosSplitMs GROUP BY 1
         |)
         |SELECT dst_ip, shortratio, longratio, packets_short, attackers FROM (
         |  SELECT s.dst_ip,
         |    round(s.packets_short * 1.0 / s.flows_short, 4) AS shortratio,
         |    round(l.packets_long * 1.0 / l.flows_long, 4) AS longratio,
         |    s.packets_short, a.attackers
         |  FROM s JOIN l USING (dst_ip) JOIN a USING (dst_ip)
         |  WHERE l.packets_long <> 0 AND l.flows_long <> 0)
         |WHERE shortratio >= longratio * 0.8 AND packets_short >= 20
         |ORDER BY dst_ip""".stripMargin),

    "q_reflect_ddos" -> FlowSynth.oracle(
      s"""WITH fl AS (
         |  SELECT flow_id, src_ip4, dst_ip, protocol, bytes, packets FROM flows WHERE protocol = 17
         |  UNION ALL
         |  SELECT flow_id + 10000000, dst_ip, src_ip4, protocol, bytes * 4, packets
         |  FROM flows WHERE protocol = 17 AND flow_id % 3 = 0
         |), dirs AS (
         |  SELECT
         |    CASE WHEN src_ip4 IN $serversSqlList THEN dst_ip ELSE src_ip4 END AS src_ip,
         |    CASE WHEN src_ip4 IN $serversSqlList THEN src_ip4 ELSE dst_ip END AS dns_ip,
         |    CASE WHEN src_ip4 IN $serversSqlList THEN bytes ELSE 0 END AS bytes_received,
         |    CASE WHEN src_ip4 IN $serversSqlList THEN 0 ELSE bytes END AS bytes_sent,
         |    CASE WHEN src_ip4 IN $serversSqlList THEN COALESCE(packets, 0) ELSE 0 END AS replies,
         |    CASE WHEN src_ip4 IN $serversSqlList THEN 0 ELSE 1 END AS requests
         |  FROM fl
         |  WHERE (dst_ip IN $serversSqlList OR src_ip4 IN $serversSqlList)
         |    AND bytes IS NOT NULL AND src_ip4 IS NOT NULL AND dst_ip IS NOT NULL
         |), g AS (
         |  SELECT src_ip, dns_ip,
         |    CAST(sum(bytes_received) AS BIGINT) AS data_received,
         |    CAST(sum(bytes_sent) AS BIGINT) AS data_sent,
         |    CAST(sum(replies) AS BIGINT) AS replies,
         |    CAST(sum(requests) AS BIGINT) AS outgoing_connections
         |  FROM dirs GROUP BY 1, 2
         |)
         |SELECT *, round(data_received * 1.0 / data_sent, 4) AS amplification
         |FROM g
         |WHERE data_sent <> 0
         |  AND round(data_received * 1.0 / data_sent, 4) > 1.0 AND replies > 1
         |ORDER BY src_ip, dns_ip""".stripMargin),

    "q_dns_open_resolvers" -> FlowSynth.oracle(
      """SELECT src_ip4 AS resolver_ip,
        |  CAST(((flow_id % 4294967296) >> 24) & 255 AS VARCHAR) || '.' ||
        |  CAST(((flow_id % 4294967296) >> 16) & 255 AS VARCHAR) || '.' ||
        |  CAST(((flow_id % 4294967296) >> 8) & 255 AS VARCHAR) || '.' ||
        |  CAST((flow_id % 4294967296) & 255 AS VARCHAR) AS resolved_data,
        |  dns_name AS resolved_query,
        |  count(*) AS flows,
        |  CAST(min(start_ms) AS BIGINT) AS first_seen_ms
        |FROM flows
        |WHERE dns_flags IS NOT NULL
        |  AND ((dns_flags >> 15) & 1) = 1 AND (dns_flags & 15) = 0
        |  AND dns_crr_type = 1 AND dns_rdata IS NOT NULL
        |  AND src_ip4 IS NOT NULL
        |  AND NOT regexp_matches(dns_name, 'zone4')
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),

    "q_dns_external_resolvers" -> FlowSynth.oracle(
      """WITH dns AS (
        |  SELECT src_ip4 AS client_ip, dst_ip AS resolver_ip, end_ms AS dns_end_ms
        |  FROM flows
        |  WHERE protocol = 17 AND dns_flags IS NOT NULL
        |    AND ((dns_flags >> 15) & 1) = 1 AND src_ip4 IS NOT NULL
        |), tcp AS (
        |  SELECT src_ip4 AS client_ip, flow_id AS tcp_flow_id, start_ms AS tcp_start_ms
        |  FROM flows WHERE protocol = 6 AND src_ip4 IS NOT NULL
        |)
        |SELECT client_ip, resolver_ip, count(*) AS flows,
        |       count(DISTINCT tcp_flow_id) AS distinct_tcp_flows,
        |       CAST(max(tcp_start_ms) AS BIGINT) AS last_seen_ms
        |FROM tcp JOIN dns USING (client_ip)
        |WHERE tcp_start_ms >= dns_end_ms AND tcp_start_ms <= dns_end_ms + 1800000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_doc_portscan" -> FlowSynth.oracle(
      s"""WITH syn AS (
         |  SELECT * FROM flows
         |  WHERE protocol = 6 AND tcp_flags IS NOT NULL AND (tcp_flags & 31) = 2
         |    AND src_ip4 IS NOT NULL AND dst_ip IS NOT NULL AND dst_port IS NOT NULL
         |), h AS (
         |  SELECT 'horizontal' AS scan_type, src_ip4 AS src_ip,
         |         CAST(dst_port AS VARCHAR) AS key, count(*) AS flows,
         |         count(DISTINCT dst_ip) AS targets_total,
         |         CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
         |         CAST(max(end_ms) AS BIGINT) AS last_seen_ms
         |  FROM syn GROUP BY 2, 3 HAVING count(DISTINCT dst_ip) >= 2
         |), v AS (
         |  SELECT 'vertical' AS scan_type, src_ip4 AS src_ip,
         |         dst_ip AS key, count(*) AS flows,
         |         count(DISTINCT dst_port) AS targets_total,
         |         CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
         |         CAST(max(end_ms) AS BIGINT) AS last_seen_ms
         |  FROM syn GROUP BY 2, 3 HAVING count(DISTINCT dst_port) >= 2
         |), r AS (SELECT * FROM h UNION ALL SELECT * FROM v)
         |SELECT 'portscan_' || scan_type AS "@type",
         |  epoch_ms(last_seen_ms) AS "@timestamp",
         |  src_ip,
         |  CASE WHEN scan_type = 'horizontal' THEN key END AS dst_port,
         |  CASE WHEN scan_type = 'vertical' THEN key END AS dst_ip,
         |  flows,
         |  duration_ms AS duration_in_milliseconds,
         |  ${isoSql("last_seen_ms")} AS "timestamp",
         |  flows AS flows_increment,
         |  targets_total
         |FROM r ORDER BY 1, 3, 4, 5""".stripMargin),

    "q_doc_ssh" -> FlowSynth.oracle(
      s"""WITH r AS (
         |  SELECT $srcIpSql AS src_ip, dst_ip,
         |    count(*) AS flows,
         |    round(avg(packets), 4) AS average_packet_count,
         |    CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
         |    CAST(max(end_ms) AS BIGINT) AS last_seen_ms
         |  FROM flows
         |  WHERE protocol = 6 AND dst_port = 22 AND src_port > 1024
         |    AND packets > 10 AND packets < 20
         |    AND bytes > 1800 AND bytes < 5000
         |    AND (end_ms - start_ms) < 12000
         |  GROUP BY 1, 2 HAVING count(*) >= 1
         |)
         |SELECT 'ssh_auth_simple' AS "@type",
         |  epoch_ms(last_seen_ms) AS "@timestamp",
         |  src_ip, dst_ip, flows, average_packet_count,
         |  duration_ms AS duration_in_milliseconds,
         |  ${isoSql("last_seen_ms")} AS "timestamp",
         |  flows AS flows_increment
         |FROM r ORDER BY src_ip, dst_ip""".stripMargin),

    "q_doc_ddos" -> FlowSynth.oracle(
      s"""WITH f AS (
         |  SELECT * FROM flows
         |  WHERE protocol IS NOT NULL AND packets IS NOT NULL
         |    AND src_ip4 IS NOT NULL AND dst_ip IS NOT NULL
         |    AND regexp_matches(dst_ip, '192\\.168\\..*')
         |), s AS (
         |  SELECT dst_ip, CAST(sum(packets) AS BIGINT) AS packets_short,
         |         count(*) AS flows_short
         |  FROM f WHERE start_ms >= $ddosSplitMs GROUP BY 1
         |), l AS (
         |  SELECT dst_ip, CAST(sum(packets) AS BIGINT) AS packets_long,
         |         count(*) AS flows_long
         |  FROM f WHERE start_ms < $ddosSplitMs GROUP BY 1
         |), a AS (
         |  SELECT dst_ip, string_agg(DISTINCT src_ip4, ',' ORDER BY src_ip4) AS attackers
         |  FROM f WHERE start_ms >= $ddosSplitMs GROUP BY 1
         |)
         |SELECT 'detection.ddos' AS "@type",
         |  epoch_ms($ddosSplitMs) AS "@timestamp",
         |  dst_ip, shortratio, longratio, attackers
         |FROM (
         |  SELECT s.dst_ip,
         |    round(s.packets_short * 1.0 / s.flows_short, 4) AS shortratio,
         |    round(l.packets_long * 1.0 / l.flows_long, 4) AS longratio,
         |    s.packets_short, a.attackers
         |  FROM s JOIN l USING (dst_ip) JOIN a USING (dst_ip)
         |  WHERE l.packets_long <> 0 AND l.flows_long <> 0)
         |WHERE shortratio >= longratio * 0.8 AND packets_short >= 20
         |ORDER BY dst_ip""".stripMargin),

    "q_doc_resolvers" -> FlowSynth.oracle(
      s"""WITH dns AS (
         |  SELECT src_ip4 AS client_ip, dst_ip AS resolver_ip, end_ms AS dns_end_ms
         |  FROM flows
         |  WHERE protocol = 17 AND dns_flags IS NOT NULL
         |    AND ((dns_flags >> 15) & 1) = 1 AND src_ip4 IS NOT NULL
         |), tcp AS (
         |  SELECT src_ip4 AS client_ip, flow_id AS tcp_flow_id, start_ms AS tcp_start_ms
         |  FROM flows WHERE protocol = 6 AND src_ip4 IS NOT NULL
         |), r AS (
         |  SELECT client_ip, resolver_ip, count(*) AS flows,
         |         CAST(max(tcp_start_ms) AS BIGINT) AS last_seen_ms
         |  FROM tcp JOIN dns USING (client_ip)
         |  WHERE tcp_start_ms >= dns_end_ms AND tcp_start_ms <= dns_end_ms + 1800000
         |  GROUP BY 1, 2
         |)
         |SELECT 'external_dns_resolver' AS "@type",
         |  epoch_ms(last_seen_ms) AS "@timestamp",
         |  client_ip AS src_ip, resolver_ip, flows,
         |  flows AS flows_increment,
         |  ${isoSql("last_seen_ms")} AS "timestamp"
         |FROM r ORDER BY src_ip, resolver_ip""".stripMargin),

    "q_doc_portscan_latest" -> FlowSynth.oracle(
      s"""WITH syn AS (
         |  SELECT * FROM flows
         |  WHERE protocol = 6 AND tcp_flags IS NOT NULL AND (tcp_flags & 31) = 2
         |    AND src_ip4 IS NOT NULL AND dst_ip IS NOT NULL AND dst_port IS NOT NULL
         |), h AS (
         |  SELECT 'horizontal' AS scan_type, src_ip4 AS src_ip,
         |         CAST(dst_port AS VARCHAR) AS key, count(*) AS flows,
         |         count(DISTINCT dst_ip) AS targets_total,
         |         CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
         |         CAST(max(end_ms) AS BIGINT) AS last_seen_ms
         |  FROM syn GROUP BY 2, 3 HAVING count(DISTINCT dst_ip) >= 2
         |), v AS (
         |  SELECT 'vertical' AS scan_type, src_ip4 AS src_ip,
         |         dst_ip AS key, count(*) AS flows,
         |         count(DISTINCT dst_port) AS targets_total,
         |         CAST(max(end_ms) - min(start_ms) AS BIGINT) AS duration_ms,
         |         CAST(max(end_ms) AS BIGINT) AS last_seen_ms
         |  FROM syn GROUP BY 2, 3 HAVING count(DISTINCT dst_port) >= 2
         |), d AS (
         |  SELECT 'portscan_' || scan_type AS "@type",
         |    epoch_ms(last_seen_ms) AS "@timestamp",
         |    src_ip,
         |    CASE WHEN scan_type = 'horizontal' THEN key END AS dst_port,
         |    CASE WHEN scan_type = 'vertical' THEN key END AS dst_ip,
         |    flows,
         |    duration_ms AS duration_in_milliseconds,
         |    ${isoSql("last_seen_ms")} AS "timestamp",
         |    flows AS flows_increment,
         |    targets_total,
         |    last_seen_ms
         |  FROM (SELECT * FROM h UNION ALL SELECT * FROM v)
         |)
         |SELECT "@type", "@timestamp", src_ip, dst_port, dst_ip, flows,
         |  duration_in_milliseconds, "timestamp", flows_increment, targets_total
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_ip
         |    ORDER BY last_seen_ms DESC,
         |      ("@type" || '_' || coalesce(dst_port, dst_ip)) DESC) AS rn
         |  FROM d)
         |WHERE rn = 1 ORDER BY src_ip""".stripMargin),

    "q_doc_ssh_top_attackers" -> FlowSynth.oracle(
      s"""WITH r AS (
         |  SELECT $srcIpSql AS src_ip, count(*) AS flows
         |  FROM flows
         |  WHERE protocol = 6 AND dst_port = 22 AND src_port > 1024
         |    AND packets > 10 AND packets < 20
         |    AND bytes > 1800 AND bytes < 5000
         |    AND (end_ms - start_ms) < 12000
         |  GROUP BY 1 HAVING count(*) >= 1
         |)
         |SELECT src_ip AS key, CAST(sum(flows) AS BIGINT) AS value
         |FROM r GROUP BY 1 ORDER BY value DESC, key ASC""".stripMargin),

    "q_tls_classification" -> FlowSynth.oracle(
      s"""WITH d(suites, device_type, operating_system, application, browser) AS (
         |  VALUES $tlsDictValues
         |), w AS (
         |  SELECT array_to_string(
         |    list_filter(
         |      list_transform(
         |        regexp_extract_all(substr(tls_cipher_suites, 3), '[0-9a-fA-F]{4}'),
         |        g -> substr(g, 3, 2) || substr(g, 1, 2)),
         |      g -> g <> '0000'), ',') AS suites
         |  FROM flows
         |  WHERE tls_cipher_suites IS NOT NULL
         |    AND tls_cipher_suites <> '0x00000000000000000000000000000000'
         |), j AS (
         |  SELECT w.suites, d.operating_system, d.browser, d.application
         |  FROM w LEFT JOIN d ON w.suites = d.suites
         |), e AS (
         |  SELECT 'operating_system' AS stat_type,
         |         COALESCE(operating_system, 'Unknown') AS key FROM j
         |  UNION ALL
         |  SELECT 'browser', COALESCE(browser, 'Unknown') FROM j
         |  UNION ALL
         |  SELECT 'application', COALESCE(application, 'Unknown') FROM j
         |)
         |SELECT stat_type, key, count(*) AS value
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_host_daily_profile" -> FlowSynth.oracle(
      s"""SELECT $srcIpSql AS src_ip,
         |  start_ms - (start_ms % 86400000) AS day_start_ms,
         |  CAST((start_ms % 86400000) // 3600000 AS INT) AS hour_slot,
         |  CAST(sum(packets) AS BIGINT) AS packets,
         |  CAST(sum(bytes) AS BIGINT) AS bytes,
         |  count(*) AS flows
         |FROM flows
         |WHERE $srcIpSql IS NOT NULL AND packets IS NOT NULL AND bytes IS NOT NULL
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    "q_doc_pattern_finder" -> FlowSynth.oracle {
      val n = pfDist.intervals.size
      val mid = pfDist.mid
      val ivs = pfDist.intervals.mkString("[", ", ", "]")
      def binSql(d: String) =
        s"(CASE WHEN len(list_filter($ivs, x -> x <= $d)) = 0 THEN ${n - 1} " +
          s"ELSE len(list_filter($ivs, x -> x <= $d)) - 1 END)"
      val slotSums = (for { pi <- patterns.indices; i <- 0 until n } yield
        s"SUM(CASE WHEN bin_$pi = $i THEN ${pfDist.weights(i)} ELSE 0 END) AS d_${pi}_$i")
        .mkString(",\n    ")
      def leftSql(pi: Int) = (0 until mid).map(i => s"d_${pi}_$i").mkString(" + ")
      def rightSql(pi: Int) = (mid until n).map(i => s"d_${pi}_$i").mkString(" + ")
      val dataArrSql = patterns.zipWithIndex.map { case (p, pi) =>
        s"'${p.name}:' || " + (0 until n).map(i => s"d_${pi}_$i").mkString(" || '-' || ")
      }.mkString(" || ';' || ")
      val maxLeftSql = patterns.indices
        .map(pi => s"CASE WHEN q_$pi THEN left_$pi ELSE -1 END").mkString("greatest(", ", ", ")")
      val closestSql = patterns.zipWithIndex.map { case (p, pi) =>
        s"CASE WHEN q_$pi AND left_$pi = $maxLeftSql THEN '${p.name}' END"
      }.mkString("concat_ws(',', ", ", ", ")")
      s"""WITH base AS (
         |  SELECT flow_id, src_ip4, dst_ip, src_port, dst_port,
         |         start_ms, end_ms, packets, bytes
         |  FROM flows WHERE src_ip4 IS NOT NULL
         |), both_dirs AS (
         |  SELECT * FROM base
         |  UNION ALL
         |  SELECT flow_id + 10000000, dst_ip, src_ip4, dst_port, src_port,
         |         start_ms + flow_id % 400, end_ms + flow_id % 400,
         |         packets + 1, bytes * 2
         |  FROM base
         |), tagged AS (
         |  SELECT *, array_to_string(list_sort([
         |    CAST(src_port AS VARCHAR) || ':' || src_ip4,
         |    CAST(dst_port AS VARCHAR) || ':' || dst_ip]), '|') AS biflow_key
         |  FROM both_dirs
         |), req AS (
         |  SELECT biflow_key, flow_id AS req_id, src_ip4 AS client_ip,
         |         dst_ip AS server_ip, start_ms AS req_start_ms,
         |         end_ms AS req_end_ms, packets AS req_packets, bytes AS req_bytes
         |  FROM tagged WHERE src_port > dst_port
         |), rsp AS (
         |  SELECT biflow_key, flow_id AS rsp_id, start_ms AS rsp_start_ms,
         |         packets AS rsp_packets, bytes AS rsp_bytes
         |  FROM tagged WHERE src_port <= dst_port
         |), pairs AS (
         |  SELECT * FROM req JOIN rsp USING (biflow_key)
         |  WHERE abs(req_start_ms - rsp_start_ms) <= 500
         |), scored AS (
         |  SELECT client_ip AS src_ip, server_ip AS dst_ip,
         |    ${binSql(qfDistSql(patterns(0).vector))} AS bin_0,
         |    ${binSql(qfDistSql(patterns(1).vector))} AS bin_1
         |  FROM pairs
         |), g AS (
         |  SELECT src_ip, dst_ip,
         |    $slotSums
         |  FROM scored GROUP BY 1, 2
         |), h AS (
         |  SELECT *,
         |    ${patterns.indices.map(pi =>
               s"${leftSql(pi)} AS left_$pi, ${rightSql(pi)} AS right_$pi")
              .mkString(",\n    ")}
         |  FROM g
         |), q AS (
         |  SELECT *,
         |    ${patterns.indices.map(pi =>
               s"(left_$pi >= ${pfDist.limit} AND left_$pi > right_$pi) AS q_$pi")
              .mkString(",\n    ")}
         |  FROM h
         |)
         |SELECT 'pattern_finder' AS "@type",
         |  epoch_ms($ddosSplitMs) AS "@timestamp",
         |  'Anomaly Detection' AS configuration,
         |  src_ip, dst_ip,
         |  $dataArrSql AS data_array,
         |  $closestSql AS closest_patterns
         |FROM q WHERE ${patterns.indices.map(pi => s"q_$pi").mkString(" OR ")}
         |ORDER BY src_ip, dst_ip""".stripMargin
    },

    "q_pattern_finder" -> FlowSynth.oracle(
      s"""WITH base AS (
         |  SELECT flow_id, src_ip4, dst_ip, src_port, dst_port,
         |         start_ms, end_ms, packets, bytes
         |  FROM flows WHERE src_ip4 IS NOT NULL
         |), both_dirs AS (
         |  SELECT * FROM base
         |  UNION ALL
         |  SELECT flow_id + 10000000, dst_ip, src_ip4, dst_port, src_port,
         |         start_ms + flow_id % 400, end_ms + flow_id % 400,
         |         packets + 1, bytes * 2
         |  FROM base
         |), tagged AS (
         |  SELECT *, array_to_string(list_sort([
         |    CAST(src_port AS VARCHAR) || ':' || src_ip4,
         |    CAST(dst_port AS VARCHAR) || ':' || dst_ip]), '|') AS biflow_key
         |  FROM both_dirs
         |), req AS (
         |  SELECT biflow_key, flow_id AS req_id, src_ip4 AS client_ip,
         |         dst_ip AS server_ip, start_ms AS req_start_ms,
         |         end_ms AS req_end_ms, packets AS req_packets, bytes AS req_bytes
         |  FROM tagged WHERE src_port > dst_port
         |), rsp AS (
         |  SELECT biflow_key, flow_id AS rsp_id, start_ms AS rsp_start_ms,
         |         packets AS rsp_packets, bytes AS rsp_bytes
         |  FROM tagged WHERE src_port <= dst_port
         |), pairs AS (
         |  SELECT * FROM req JOIN rsp USING (biflow_key)
         |  WHERE abs(req_start_ms - rsp_start_ms) <= 500
         |), scored AS (
         |  SELECT *,
         |    ${qfDistSql(patterns(0).vector)} AS d_bulk,
         |    ${qfDistSql(patterns(1).vector)} AS d_tiny
         |  FROM pairs
         |), best AS (
         |  SELECT *,
         |    CASE WHEN d_bulk <= d_tiny THEN 'bulk' ELSE 'tiny' END AS closest_pattern,
         |    CASE WHEN d_bulk <= d_tiny THEN d_bulk ELSE d_tiny END AS distance
         |  FROM scored
         |)
         |SELECT biflow_key, req_id, rsp_id, client_ip, server_ip,
         |  closest_pattern, distance,
         |  CAST(least(CASE WHEN distance >= 8 THEN 4 WHEN distance >= 4 THEN 3
         |        WHEN distance >= 2 THEN 2 WHEN distance >= 1 THEN 1
         |        ELSE 0 END, 3) AS INT) AS bin
         |FROM best ORDER BY req_id, rsp_id""".stripMargin),

    "q_cidr_filter" -> FlowSynth.oracle(
      """SELECT src_ip4, count(*) AS flows
        |FROM flows
        |WHERE src_ip4 IS NOT NULL AND (
        |  (CAST(string_split(src_ip4, '.')[1] AS BIGINT) * 16777216
        |   + CAST(string_split(src_ip4, '.')[2] AS BIGINT) * 65536
        |   + CAST(string_split(src_ip4, '.')[3] AS BIGINT) * 256
        |   + CAST(string_split(src_ip4, '.')[4] AS BIGINT)) & 4294967040) = 167797760
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_entropy" -> FlowSynth.oracle(
      """WITH d AS (
        |  SELECT DISTINCT dns_name FROM flows WHERE dns_name IS NOT NULL
        |), c AS (
        |  SELECT dns_name,
        |    list_transform(range(1, length(dns_name) + 1),
        |      i -> substr(dns_name, CAST(i AS INT), 1)) AS chars
        |  FROM d
        |)
        |SELECT dns_name,
        |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list_distinct(chars)),
        |      ch -> (len(list_filter(chars, x -> x = ch)) * 1.0 / len(chars))
        |            * log2(len(list_filter(chars, x -> x = ch)) * 1.0 / len(chars)))),
        |    (a, b) -> a + b), 6) AS entropy
        |FROM c ORDER BY dns_name""".stripMargin),

    "q_doc_dedup_exact" ->
      """SELECT doc_id, dup_count FROM (
        |  SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |  FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin,

    "q_doc_dedup_hash" ->
      """SELECT doc_id, dup_count FROM (
        |  SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |  FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,

    "q_doc_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $toksSql AS toks,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) * 1.0 / length(text)
         |    END AS punct_raw
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, text, toks, punct_raw,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, t -> list_contains($stopwordsSqlList, t))) * 1.0 / len(toks)
         |    END AS stop_raw
         |  FROM base
         |)
         |SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) END AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_subwords,
         |  round(punct_raw, 6) AS punct_ratio,
         |  round(stop_raw, 6) AS stopword_ratio,
         |  round((least(length(text) / 500.0, 1.0)
         |         + greatest(0.0, 1.0 - punct_raw * 5.0)
         |         + least(stop_raw * 4.0, 1.0)) / 3.0, 6) AS quality,
         |  ${fpSql("text")} AS fingerprint
         |FROM s ORDER BY doc_id""".stripMargin,

    // the engine blocks on 8-byte poly-47 shingle keys, not strings;
    // apply the IDENTICAL hash so shared counts agree by construction
    "q_doc_near_dup" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> length(x) > 0) AS toks
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' '))) END AS shingles
         |  FROM t
         |), inv0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(shingles, w -> ${fpSql("w")})) AS h
         |  FROM sh
         |), keep AS (
         |  SELECT h FROM (SELECT h, count(*) AS df FROM inv0 GROUP BY 1)
         |  WHERE df <= 20
         |), inv AS (
         |  SELECT doc_id, h FROM inv0 JOIN keep USING (h)
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM inv GROUP BY 1
         |), shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, shared, jaccard FROM (
         |  SELECT doc_a, doc_b, shared,
         |    round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
         |  FROM shared
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b)
         |WHERE jaccard >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same blocking CTEs as q_doc_near_dup (df cap 20, 2-shingles),
    // then the per-candidate levenshtein confirm
    // the engine blocks on 8-byte poly-47 shingle keys, not strings (the
    // hybrid/span key discipline); apply the IDENTICAL hash so the df
    // cap censors the same key identities on both sides
    "q_edit_distance_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> length(x) > 0) AS toks
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' '))) END AS shingles
         |  FROM t
         |), inv0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(shingles, w -> ${fpSql("w")})) AS h
         |  FROM sh
         |), keep AS (
         |  SELECT h FROM (SELECT h, count(*) AS df FROM inv0 GROUP BY 1)
         |  WHERE df <= 20
         |), inv AS (
         |  SELECT doc_id, h FROM inv0 JOIN keep USING (h)
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
         |FROM cand
         |JOIN documents ta ON ta.doc_id = doc_a
         |JOIN documents tb ON tb.doc_id = doc_b
         |WHERE levenshtein(ta.text, tb.text) <= 10
         |ORDER BY doc_a, doc_b""".stripMargin,

    // incremental twin, uncapped: pairs sharing ANY word 2-shingle
    // (same poly-47 hashed key space as the batch twin, so collision
    // candidates agree by construction), levenshtein-confirmed — the
    // recall-safe prunes must be invisible in the output (they only
    // drop candidates the confirm would drop)
    "q_edit_distance_incremental" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> length(x) > 0) AS toks
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' '))) END AS shingles
         |  FROM t
         |), inv AS (
         |  SELECT doc_id,
         |    unnest(list_transform(shingles, w -> ${fpSql("w")})) AS h
         |  FROM sh
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
         |FROM cand
         |JOIN documents ta ON ta.doc_id = doc_a
         |JOIN documents tb ON tb.doc_id = doc_b
         |WHERE levenshtein(ta.text, tb.text) <= 10
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,

    "q_minhash_candidates" ->
      s"""WITH ${minhashBucketCtes()}
         |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_minhash_candidates_capped" ->
      s"""WITH ${minhashBucketCtes()}, ${capBucketsSql("bk", "doc_id", 2L)}
         |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |FROM bkc a JOIN bkc c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    ${langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
               s"len(list_filter(toks, w -> list_contains(${ws.map(w => s"'$w'").mkString("[", ",", "]")}, w))) AS s_$lang"
             }.mkString(",\n    |    ")}
         |  FROM t
         |)
         |SELECT doc_id,
         |  CASE WHEN s_de >= s_en AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_fr THEN 'en' ELSE 'fr' END AS lang_guess
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_media_dedup" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, CAST(doc_id % 100 AS VARCHAR) AS media
        |  FROM documents
        |)
        |SELECT media_id, dup_count FROM (
        |  SELECT min(media_id) AS media_id, count(*) AS dup_count
        |  FROM m GROUP BY md5(media))
        |ORDER BY media_id""".stripMargin,

    "q_media_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ['image/png','audio/wav','video/mp4'][CAST(doc_id % 3 + 1 AS INT)] AS mime,
        |    text AS media
        |  FROM documents
        |)
        |SELECT media_id, mime,
        |  CAST(length(media) AS INT) AS n_bytes,
        |  md5(media) AS checksum,
        |  CAST(COALESCE(list_sum(list_transform(regexp_extract_all(hex(media::BLOB), '..'),
        |    p -> (CASE WHEN ascii(p[1]) >= 65 THEN ascii(p[1]) - 55 ELSE ascii(p[1]) - 48 END) * 16
        |       + (CASE WHEN ascii(p[2]) >= 65 THEN ascii(p[2]) - 55 ELSE ascii(p[2]) - 48 END))), 0)
        |    AS BIGINT) AS byte_sum,
        |  md5(substring(media, 1, 64)) AS thumb_md5
        |FROM m ORDER BY media_id""".stripMargin,

    "q_media_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text AS media,
        |    CASE WHEN length(text) < 32 THEN 0
        |         ELSE (length(text) - 32) // 16 + 1 END AS n_frames
        |  FROM documents
        |), f AS (
        |  SELECT media_id, media, unnest(range(0, n_frames)) AS frame_idx FROM m
        |)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(substring(media, CAST(frame_idx * 16 + 1 AS INT), 32)) AS INT) AS frame_len,
        |  md5(substring(media, CAST(frame_idx * 16 + 1 AS INT), 32)) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    "q_media_cdc" ->
      s"""WITH $cdcChunksSql
         |SELECT media_id, chunk_idx, off, len, chunk_md5
         |FROM chunks ORDER BY media_id, chunk_idx""".stripMargin,

    "q_media_phash" ->
      s"""WITH $mediaPhashCtes
         |SELECT media_id, ph_hi, ph_lo FROM ph ORDER BY media_id""".stripMargin,

    // the engine default caps degenerate band buckets at 4096 members;
    // the twin applies the identical cap (QUALIFY on the bucket size)
    "q_media_phash_candidates" ->
      s"""WITH $mediaPhashCtes,
         |bands0 AS (
         |  SELECT media_id, i AS band_idx,
         |    CASE i WHEN 0 THEN ph_hi >> 16 WHEN 1 THEN ph_hi & 65535
         |           WHEN 2 THEN ph_lo >> 16 ELSE ph_lo & 65535 END AS band_val
         |  FROM ph, range(0, 4) t(i)),
         |bands AS (
         |  SELECT media_id, band_idx, band_val FROM bands0
         |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_val) <= 4096),
         |pairs AS (
         |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.media_id < b.media_id),
         |scored AS (
         |  SELECT media_a, media_b,
         |    CAST(bit_count(xor(pa.ph_hi, pb.ph_hi))
         |       + bit_count(xor(pa.ph_lo, pb.ph_lo)) AS BIGINT) AS hamming
         |  FROM pairs
         |  JOIN ph pa ON pa.media_id = media_a
         |  JOIN ph pb ON pb.media_id = media_b)
         |SELECT media_a, media_b, hamming FROM scored
         |WHERE hamming <= 6 ORDER BY media_a, media_b""".stripMargin,

    "q_media_cdc_dedup" ->
      s"""WITH $cdcChunksSql,
         |u AS (
         |  SELECT chunk_md5, media_id, off,
         |    row_number() OVER (PARTITION BY chunk_md5 ORDER BY media_id, off) AS rn,
         |    count(*) OVER (PARTITION BY chunk_md5) AS ref_count,
         |    min(len) OVER (PARTITION BY chunk_md5) AS len
         |  FROM chunks
         |)
         |SELECT chunk_md5, len, ref_count, media_id, off
         |FROM u WHERE rn = 1 ORDER BY chunk_md5""".stripMargin,

    "q_media_cdc_stats" ->
      s"""WITH $cdcChunksSql,
         |store AS (
         |  SELECT chunk_md5, min(len) AS len, count(*) AS ref_count
         |  FROM chunks GROUP BY chunk_md5
         |)
         |SELECT count(*) AS unique_chunks,
         |  CAST(sum(ref_count) AS BIGINT) AS total_chunks,
         |  CAST(sum(len * ref_count) AS BIGINT) AS logical_bytes,
         |  CAST(sum(len) AS BIGINT) AS stored_bytes,
         |  round(sum(len * ref_count) / CAST(sum(len) AS DOUBLE), 4) AS dedup_ratio
         |FROM store""".stripMargin,

    "q_embed_dedup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), s AS (
         |  SELECT vec_id, list_reduce(list_transform(range(0, 16), pl ->
         |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, len(v) + 1), i ->
         |        v[CAST(i AS INT)] * (CAST(((CAST(i - 1 AS BIGINT) * 2654435761
         |          + pl * 40503 + 12345) % 1048576
         |          * ((CAST(i - 1 AS BIGINT) * 2654435761
         |          + pl * 40503 + 12345) % 1048576 + 1) // 2)
         |          % 1048576 AS DOUBLE) / 524288.0 - 1.0))),
         |      (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END),
         |    (x, y) -> x || y) AS signs
         |  FROM e
         |), bk AS (
         |  SELECT vec_id, unnest(list_transform(range(0, 4), b ->
         |    CAST(b AS VARCHAR) || '_' || substr(signs, CAST(b * 4 + 1 AS INT), 4)))
         |    AS bucket
         |  FROM s
         |), pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
         |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |), dupes AS (
         |  SELECT DISTINCT vec_b AS vec_id
         |  FROM pairs
         |  JOIN e ea ON ea.vec_id = vec_a
         |  JOIN e eb ON eb.vec_id = vec_b
         |  WHERE round(${cosSql("ea.v", "eb.v")}, 4) >= 0.9
         |)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM dupes)
         |ORDER BY vec_id""".stripMargin,

    // SemDeDup: annIvf's centroid-sample + argmax-assignment CTEs,
    // within-cluster pairs, drop the higher id of every pair >= 0.4
    "q_semdedup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), asg AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM e CROSS JOIN c) WHERE crn = 1
         |), losers AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.4
         |)
         |SELECT vec_id, cid FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin,

    // paper keep rule: asg carries the winner's centroid similarity;
    // per confirmed pair the row-value compare picks the more-central
    // member as the loser
    "q_semdedup_outlier" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), asg AS (
         |  SELECT vec_id, v, cid, csim FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      round(${cosSql("e.v", "c.cv")}, 6) AS csim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM e CROSS JOIN c) WHERE crn = 1
         |), losers AS (
         |  SELECT DISTINCT CASE WHEN (a.csim, a.vec_id) > (b.csim, b.vec_id)
         |    THEN a.vec_id ELSE b.vec_id END AS vec_id
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.4
         |)
         |SELECT vec_id, cid FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin,

    // hybrid dedup: the q_semdedup assignment CTEs gate the candidate
    // space; the q_doc_near_dup distinct-bigram Jaccard confirms within
    // a cluster; docs without an embedding keep a NULL cid
    "q_hybrid_dedup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), asg AS (
         |  SELECT vec_id AS doc_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM e CROSS JOIN c) WHERE crn = 1
         |), t AS (
         |  SELECT d.doc_id, a.cid, $toksSql AS toks
         |  FROM documents d JOIN asg a ON d.doc_id = a.doc_id
         |), sh AS (
         |  SELECT doc_id, cid,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' '))) END AS shingles
         |  FROM t
         |), inv AS (
         |  -- the engine joins on 8-byte poly-47 gram keys, not strings;
         |  -- apply the IDENTICAL hash so collisions (kept, not papered
         |  -- over) produce identical results on both sides
         |  SELECT doc_id, cid,
         |    unnest(list_transform(shingles, w -> ${fpSql("w")})) AS h
         |  FROM sh
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM inv GROUP BY 1
         |), shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM inv a JOIN inv b ON a.cid = b.cid AND a.h = b.h
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM shared
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE round(shared * 1.0 / (sa.n + sb.n - shared), 6) >= 0.1
         |)
         |SELECT d.doc_id, a.cid FROM documents d
         |LEFT JOIN asg a ON d.doc_id = a.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY d.doc_id""".stripMargin,

    // incremental SemDeDup: same CTEs but the quantizer sample comes
    // from the FIRST batch only (vec_id < 250) — the frozen store
    "q_semdedup_incremental" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 250
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), asg AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM e CROSS JOIN c) WHERE crn = 1
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${cosSql("a.v", "b.v")}, 4) AS cosine
         |FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    "q_embed_ann_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), b AS (
         |  SELECT vec_id, v, CAST(list_sum(list_transform(range(0, 8), pl ->
         |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, len(v) + 1), i ->
         |        v[CAST(i AS INT)] * (CAST(((CAST(i - 1 AS BIGINT) * 2654435761
         |          + pl * 40503 + 12345) % 1048576
         |          * ((CAST(i - 1 AS BIGINT) * 2654435761
         |          + pl * 40503 + 12345) % 1048576 + 1) // 2)
         |          % 1048576 AS DOUBLE) / 524288.0 - 1.0))),
         |      (x, y) -> x + y) >= 0
         |    THEN CAST(1 AS BIGINT) << pl ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
         |    AS bucket
         |  FROM e
         |)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         |    round(${cosSql("a.v", "c.v")}, 4) AS cosine
         |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
         |WHERE cosine >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin,

    "q_embed_ann_lsh_banded" -> lshBandedOracle(maxBucket = 0L),

    "q_embed_ann_lsh_banded_capped" -> lshBandedOracle(maxBucket = 100L),

    "q_embed_ann_ivf" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), asg AS (
         |  SELECT vec_id AS nbr_id, v AS nv, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM e CROSS JOIN c) WHERE crn = 1
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
         |), probes AS (
         |  SELECT query_id, qv, cid FROM (
         |    SELECT q.query_id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(${cosSql("q.qv", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM q CROSS JOIN c) WHERE crn <= 3
         |), cand AS (
         |  SELECT p.query_id, a.nbr_id,
         |    round(${cosSql("p.qv", "a.nv")}, 4) AS cosine
         |  FROM probes p JOIN asg a USING (cid)
         |  WHERE p.query_id <> a.nbr_id
         |)
         |SELECT query_id, nbr_id, cosine, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, nbr_id ASC) AS rank
         |  FROM cand) WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // IVF-flat-SQ8: annIvf's probe CTEs + the int8 z CTE, in-list
    // ranking by integer dots
    "q_embed_ann_ivf_int8" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), z AS (
         |  SELECT vec_id,
         |    CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0 THEN
         |      list_transform(v, x -> CAST(0 AS BIGINT))
         |    ELSE list_transform(v, x -> CAST(round(
         |      x / (list_max(list_transform(v, y -> abs(y))) / 127.0))
         |      AS BIGINT)) END AS q
         |  FROM e
         |), asg AS (
         |  SELECT vec_id AS nbr_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM e CROSS JOIN c) WHERE crn = 1
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
         |), probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.query_id, c.cid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(${cosSql("q.qv", "c.cv")}, 6) DESC, c.cid ASC) AS crn
         |    FROM q CROSS JOIN c) WHERE crn <= 3
         |), cand AS (
         |  SELECT p.query_id, a.nbr_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(zq.q) + 1),
         |        i -> zq.q[CAST(i AS INT)] * zn.q[CAST(i AS INT)])), (x, y) -> x + y) AS d,
         |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(zq.q) + 1),
         |        i -> zq.q[CAST(i AS INT)] * zq.q[CAST(i AS INT)])), (x, y) -> x + y) AS DOUBLE)) AS na,
         |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(zn.q) + 1),
         |        i -> zn.q[CAST(i AS INT)] * zn.q[CAST(i AS INT)])), (x, y) -> x + y) AS DOUBLE)) AS nb
         |  FROM probes p
         |  JOIN asg a USING (cid)
         |  JOIN z zq ON zq.vec_id = p.query_id
         |  JOIN z zn ON zn.vec_id = a.nbr_id
         |  WHERE p.query_id <> a.nbr_id
         |), sc AS (
         |  SELECT query_id, nbr_id,
         |    round(CASE WHEN na * nb = 0 THEN 0.0 ELSE d / (na * nb) END, 4) AS cosine
         |  FROM cand
         |)
         |SELECT query_id, nbr_id, cosine, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, nbr_id ASC) AS rank
         |  FROM sc) WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // int8 twin: quantize per vector (scale = max|v|/127, round half
    // away from zero in both engines), integer dots, float only at the
    // final ratio
    "q_embed_knn_int8" ->
      """WITH e0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), z AS (
        |  SELECT vec_id,
        |    CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0 THEN
        |      list_transform(v, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(v, x -> CAST(round(
        |      x / (list_max(list_transform(v, y -> abs(y))) / 127.0))
        |      AS BIGINT)) END AS q
        |  FROM e0
        |), p AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(a.q) + 1),
        |        i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])), (x, y) -> x + y) AS d,
        |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(a.q) + 1),
        |        i -> a.q[CAST(i AS INT)] * a.q[CAST(i AS INT)])), (x, y) -> x + y) AS DOUBLE)) AS na,
        |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(b.q) + 1),
        |        i -> b.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])), (x, y) -> x + y) AS DOUBLE)) AS nb
        |  FROM z a, z b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
        |), sc AS (
        |  SELECT query_id, nbr_id,
        |    round(CASE WHEN na * nb = 0 THEN 0.0 ELSE d / (na * nb) END, 4) AS cosine
        |  FROM p
        |)
        |SELECT query_id, nbr_id, cosine, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
        |  FROM sc) WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q_embed_knn" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10
        |), e AS (
        |  SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS nv FROM embeddings
        |), p AS (
        |  SELECT query_id, nbr_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(qv) + 1),
        |        i -> qv[CAST(i AS INT)] * nv[CAST(i AS INT)])), (a, b) -> a + b) AS dot,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(qv) + 1),
        |        i -> qv[CAST(i AS INT)] * qv[CAST(i AS INT)])), (a, b) -> a + b)) AS na,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(nv) + 1),
        |        i -> nv[CAST(i AS INT)] * nv[CAST(i AS INT)])), (a, b) -> a + b)) AS nb
        |  FROM q, e WHERE query_id <> nbr_id
        |), sc AS (
        |  SELECT query_id, nbr_id,
        |    round(CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END, 4) AS cosine
        |  FROM p
        |)
        |SELECT query_id, nbr_id, cosine, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
        |  FROM sc) WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // JL sign random projection — the sign matrix is re-derived in SQL
    // from the same fp47 + two squaring passes mod 2^31−1 (intermediates
    // fit BIGINT; see Projection.mixSign for why the avalanche is load-
    // bearing), then the same left-fold dot and √outDim scale
    "q_embed_rp" ->
      s"""WITH sm0 AS (
         |  SELECT CAST(jj AS INT) AS j, CAST(ii AS INT) AS i,
         |    ${fpSql("('rp:' || CAST(jj AS VARCHAR) || ':' || CAST(ii AS VARCHAR))")} % 2147483647 AS h0
         |  FROM range(0, 16) t(jj), range(0, 64) u(ii)
         |), sm1 AS (SELECT j, i, (h0 * h0 + 1) % 2147483647 AS h1 FROM sm0),
         |sm2 AS (SELECT j, i,
         |  CASE WHEN ((h1 * h1 + 1) % 2147483647) % 2 = 0
         |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
         |  FROM sm1),
         |s AS (SELECT j, list(sgn ORDER BY i) AS srow FROM sm2 GROUP BY j),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT e.vec_id, s.j, round(${dotSql("srow", "v")} / sqrt(16.0), 6) AS component
         |FROM e CROSS JOIN s ORDER BY vec_id, j""".stripMargin,

    "q_embed_meanpool" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings
        |)
        |SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 6) AS v
        |FROM x GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    // sample covariance of the embedding columns — covar_samp is
    // algebraically the engine's (Σxy − ΣxΣy/n)/(n−1); round(6) absorbs
    // cross-row float-order noise on both sides
    "q_embed_cov" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u0 AS (SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |    i -> struct_pack(i := CAST(i AS INT) - 1, x := v[CAST(i AS INT)]))) AS p FROM e),
        |u AS (SELECT vec_id, p.i AS i, p.x AS x FROM u0)
        |SELECT a.i AS i, b.i AS j, round(covar_samp(a.x, b.x), 6) + 0.0 AS cov
        |FROM u a JOIN u b ON a.vec_id = b.vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // PCA value gate: the fixture's eigenbasis is closed-form (see the
    // query's comment — u=(0.6,0.8), canonicalized v=(0.8,−0.6)), so
    // the oracle recomputes the centered projections with plain
    // arithmetic; no eigensolver needed on the DuckDB side
    "q_embed_pca_fixture" ->
      """WITH fx(vec_id, x1, x2) AS (VALUES
        |    (0, 7.8, 17.9), (1, 9.8, 18.9), (2, 11.0, 20.5), (3, 11.4, 22.7)),
        |m AS (SELECT avg(x1) AS m1, avg(x2) AS m2 FROM fx),
        |comp(j) AS (VALUES (0), (1))
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, j,
        |  round(CASE WHEN j = 0 THEN (x1 - m1) * 0.6 + (x2 - m2) * 0.8
        |             ELSE (x1 - m1) * 0.8 + (x2 - m2) * (-0.6) END, 6) + 0.0
        |    AS component
        |FROM fx, m, comp
        |ORDER BY vec_id, j""".stripMargin,

    // nearest-class-mean train + score: centroid components rounded to 6
    // BEFORE the distance (both engines), so the argmin can't flip on
    // cross-row avg ordering; ties break to the lowest label
    "q_embed_centroid" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |u0 AS (SELECT vec_id, label, unnest(list_transform(range(1, len(v) + 1),
         |    i -> struct_pack(i := CAST(i AS INT), x := v[CAST(i AS INT)]))) AS p FROM e),
         |u AS (SELECT vec_id, label, p.i AS i, p.x AS x FROM u0),
         |c AS (SELECT label AS clabel, i, round(avg(x), 6) AS cx
         |      FROM u WHERE vec_id % 5 <> 0 GROUP BY 1, 2),
         |cv AS (SELECT clabel, list(cx ORDER BY i) AS cvec FROM c GROUP BY 1),
         |d AS (SELECT e.vec_id, e.label, cv.clabel, round(${l2Sql("v", "cvec")}, 6) AS d2
         |      FROM e CROSS JOIN cv WHERE e.vec_id % 5 = 0),
         |r AS (SELECT vec_id, label, clabel,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM d)
         |SELECT vec_id, label, clabel AS predicted FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // trained logistic filter: 5 GD iterations unrolled as chained CTEs;
    // per-row dots are the pinned left fold on both engines, cross-row
    // gradient-sum order noise (~1e-15 relative) is absorbed by the
    // final round(score, 6)
    "q_embed_quality" ->
      s"""WITH t AS (
         |  SELECT CAST(label % 2 AS DOUBLE) AS y,
         |    list_append(embedding::DOUBLE[], 1.0) AS xa
         |  FROM embeddings WHERE vec_id % 5 <> 0),
         |meta AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
         |w0 AS (SELECT list_transform(range(1, len(xa) + 1),
         |    i -> CAST(0.0 AS DOUBLE)) AS w FROM t LIMIT 1),
         |${(1 to 5).map(k => lrIterSql(k, 2.0)).mkString(",\n")},
         |q AS (SELECT vec_id, list_append(embedding::DOUBLE[], 1.0) AS xa
         |      FROM embeddings WHERE vec_id % 5 = 0)
         |SELECT vec_id, round(1.0/(1.0 + exp(-(${dotSql("xa", "fw.w")}))), 6) AS score
         |FROM q, w5 fw ORDER BY vec_id""".stripMargin,

    // tie-corrected Mann-Whitney AUC; the oracle spells the rank()
    // window the engine deliberately avoids (Ids.prefixSum ranks), and
    // avg tie rank = min rank + (ties-1)/2 on both sides. The score is
    // the same pinned left fold as the other embedding oracles, so rank
    // ORDER is bit-identical across engines; only the final auc rounds.
    "q_quality_auc" ->
      """WITH t AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           embedding::DOUBLE[]), (x, y) -> x + y)
        |           / len(embedding) AS score,
        |         CAST(label % 2 AS BIGINT) AS label
        |  FROM embeddings
        |), r AS (
        |  SELECT label,
        |         rank() OVER (ORDER BY score)
        |           + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS ar
        |  FROM t
        |), a AS (
        |  SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |         sum(CASE WHEN label = 1 THEN ar ELSE 0.0 END) AS rsum
        |  FROM r
        |)
        |SELECT n_pos, n_neg,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |         round((rsum - n_pos * (n_pos + 1) / 2.0)
        |               / (n_pos * n_neg), 6) END AS auc
        |FROM a""".stripMargin,

    // threshold sweep: the grid joins the per-distinct-score tallies in
    // the engine; the oracle spells the row-level cross join. Column
    // named prec, not precision (DOUBLE PRECISION keyword hazard).
    "q_pr_thresholds" ->
      """WITH t AS (
        |  SELECT 0.5 + m / (2.0 * (1.0 + abs(m))) AS score,
        |         CAST(label % 2 AS BIGINT) AS label
        |  FROM (SELECT 128.0 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               embedding::DOUBLE[]), (x, y) -> x + y)
        |               / len(embedding) AS m, label
        |        FROM embeddings)
        |), th AS (
        |  -- ::DOUBLE[]: a bare decimal array literal types DECIMAL(2,1),
        |  -- and the driver's hasher is dtype-sensitive
        |  SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]::DOUBLE[]) AS threshold
        |), a AS (
        |  SELECT threshold,
        |    CAST(sum(CASE WHEN score >= threshold THEN label ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score >= threshold THEN 1 - label ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score < threshold THEN label ELSE 0 END) AS BIGINT) AS fn
        |  FROM t, th GROUP BY threshold
        |)
        |SELECT threshold, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END AS prec,
        |  CASE WHEN tp + fn > 0 THEN round(tp / (tp + fn), 6) END AS recall,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0
        |            AND tp / (tp + fp) + tp / (tp + fn) > 0 THEN
        |    round(2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
        |          / (tp / (tp + fp) + tp / (tp + fn)), 6) END AS f1
        |FROM a ORDER BY threshold""".stripMargin,

    "q_calibration" ->
      """WITH t AS (
        |  SELECT 0.5 + m / (2.0 * (1.0 + abs(m))) AS score,
        |         CAST(label % 2 AS BIGINT) AS label
        |  FROM (SELECT 128.0 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               embedding::DOUBLE[]), (x, y) -> x + y)
        |               / len(embedding) AS m, label
        |        FROM embeddings)
        |)
        |SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
        |       count(*) AS n,
        |       round(avg(score), 6) AS mean_score,
        |       round(avg(CAST(label AS DOUBLE)), 6) AS pos_rate
        |FROM t GROUP BY 1 ORDER BY bin""".stripMargin,

    // step-interpolated AP: per-distinct-score tallies, descending
    // cumulatives via ascending exclusive prefixes (ties = one step,
    // exactly the engine's construction); double casts BEFORE the
    // products mirror the engine's overflow posture
    "q_average_precision" ->
      """WITH t AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           embedding::DOUBLE[]), (x, y) -> x + y)
        |           / len(embedding) AS score,
        |         CAST(label % 2 AS BIGINT) AS label
        |  FROM embeddings
        |), g AS (
        |  SELECT score, count(*) AS cnt, sum(label) AS pos
        |  FROM t GROUP BY score
        |), p AS (
        |  SELECT cnt, pos,
        |    coalesce(sum(cnt) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_before,
        |    coalesce(sum(pos) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_before
        |  FROM g
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
        |  FROM g
        |)
        |SELECT np AS n_pos, n - np AS n_neg,
        |  CASE WHEN np > 0 THEN
        |    round(sum(CAST(pos AS DOUBLE) * CAST(np - pos_before AS DOUBLE)
        |          / (CAST(np AS DOUBLE) * CAST(n - cnt_before AS DOUBLE))), 6)
        |  END AS average_precision
        |FROM p, tot GROUP BY np, n""".stripMargin,

    // --- training-data curation -----------------------------------------

    "q_contamination" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
         |                i -> array_to_string(toks[i:i+2], ' '))) END AS shingles
         |  FROM t
         |), ds AS (
         |  SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |), bs AS (
         |  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 50 = 0
         |)
         |SELECT d.doc_id, count(*) AS overlap_ngrams
         |FROM ds d JOIN bs USING (shingle)
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    // same Morton interleave, spelled as arithmetic DuckDB can run:
    // bit b of column i lands at position b*ncols + i
    "q_zorder_key" -> {
      val terms = (0 until 8).flatMap { b =>
        Seq(s"(((l_partkey % 256) // ${1L << b}) % 2) * ${1L << (2 * b)}",
            s"(((l_suppkey % 256) // ${1L << b}) % 2) * ${1L << (2 * b + 1)}")
      }
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    "q_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(toks) AS gram FROM t
         |), wc AS (
         |  SELECT doc_id, gram, count(*) AS c FROM w GROUP BY doc_id, gram
         |), ws AS (
         |  SELECT doc_id, sum(c) AS total, count(*) AS uniq FROM wc GROUP BY doc_id
         |), g AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' ')) END) AS gram
         |  FROM t
         |), gc AS (
         |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
         |), gs AS (
         |  SELECT doc_id, sum(c) AS total, count(*) AS uniq, max(c) AS top
         |  FROM gc GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  round(CASE WHEN COALESCE(ws.total, 0) > 0
         |    THEN (ws.total - ws.uniq) * 1.0 / ws.total ELSE 0.0 END, 6)
         |    AS dup_word_frac,
         |  round(CASE WHEN COALESCE(gs.total, 0) > 0
         |    THEN (gs.total - gs.uniq) * 1.0 / gs.total ELSE 0.0 END, 6)
         |    AS dup_2gram_frac,
         |  round(CASE WHEN COALESCE(gs.total, 0) > 0
         |    THEN gs.top * 1.0 / gs.total ELSE 0.0 END, 6)
         |    AS top_2gram_frac
         |FROM documents d
         |LEFT JOIN ws ON ws.doc_id = d.doc_id
         |LEFT JOIN gs ON gs.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || ' 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
        |      || ' 4401' || lpad(CAST((doc_id * 7919) % 100000 AS VARCHAR), 5, '0')
        |      AS text
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, text AS t0,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g') AS t1
        |  FROM aug
        |), s2 AS (
        |  SELECT *, regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g') AS t2
        |  FROM s1
        |), s3 AS (
        |  SELECT *, regexp_replace(t2, '[0-9]{6,}', '[NUM]', 'g') AS t3 FROM s2
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(t2, '[0-9]{6,}')) AS INT) AS n_nums,
        |  CAST(length(t3) AS INT) AS redacted_len,
        |  md5(t3) AS redacted_md5
        |FROM s3 ORDER BY doc_id""".stripMargin,

    "q_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) > 0
         |), c AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, ((greatest(len(toks) - 32, 0) + 23) // 24) + 1))
         |      AS chunk_id
         |  FROM t
         |)
         |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |  CAST(len(toks[CAST(chunk_id * 24 + 1 AS INT):CAST(chunk_id * 24 + 32 AS INT)]) AS INT)
         |    AS n_chunk_tokens,
         |  array_to_string(toks[CAST(chunk_id * 24 + 1 AS INT):CAST(chunk_id * 24 + 32 AS INT)], ' ')
         |    AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_dedup_cluster" ->
      s"""WITH RECURSIVE ${minhashBucketCtes()}, cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM cand
         |), reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT d.doc_id, least(d.doc_id, COALESCE(m.mn, d.doc_id)) AS component
         |FROM documents d LEFT JOIN (
         |  SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
         |  ON m.src = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    "q_sample_mix" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${ppmSql("mix")} <
         |  CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 250000
         |              WHEN 'src2' THEN 500000 ELSE 1000000 END
         |ORDER BY doc_id""".stripMargin,

    "q_ngram_counts" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), g AS (
         |  SELECT unnest(CASE WHEN len(toks) < 2 THEN []
         |    ELSE list_transform(range(1, len(toks)),
         |           i -> array_to_string(toks[i:i+1], ' ')) END) AS ngram
         |  FROM t
         |)
         |SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram
         |HAVING count(*) >= 3 ORDER BY ngram""".stripMargin,

    // ordered (non-distinct) trigrams, zipped unnest for positions, the
    // same 47-bit hash twin the minhash oracle uses
    "q_dup_spans" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
         |    ELSE list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+2], ' ')) END AS grams
         |  FROM t
         |), g0 AS (
         |  SELECT doc_id, unnest(range(0, len(grams))) AS pos0,
         |         unnest(list_transform(grams, w -> ${fpSql("w")})) AS h
         |  FROM sh WHERE len(grams) > 0
         |), g AS (
         |  SELECT doc_id, CAST(pos0 AS INT) AS pos, h FROM g0
         |), d AS (
         |  SELECT h, count(*) AS occurrences FROM g GROUP BY h
         |  HAVING count(*) > 1
         |)
         |SELECT g.doc_id, g.pos, d.occurrences FROM g JOIN d USING (h)
         |ORDER BY doc_id, pos""".stripMargin,

    // exact variant: group by the literal gram string — no hash anywhere,
    // so this oracle checks SuffixDedup's suffix classes exactly
    "q_exact_dup_spans" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
         |    ELSE list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+2], ' ')) END AS grams
         |  FROM t
         |), g0 AS (
         |  SELECT doc_id, unnest(range(0, len(grams))) AS pos0,
         |         unnest(grams) AS gram
         |  FROM sh WHERE len(grams) > 0
         |), g AS (
         |  SELECT doc_id, CAST(pos0 AS INT) AS pos, gram FROM g0
         |), d AS (
         |  SELECT gram, count(*) AS occurrences FROM g GROUP BY gram
         |  HAVING count(*) > 1
         |)
         |SELECT g.doc_id, g.pos, d.occurrences FROM g JOIN d USING (gram)
         |ORDER BY doc_id, pos""".stripMargin,

    // span removal: same gram/hash CTEs, min-okey canonical, covered
    // positions cut by one index filter over the token list
    "q_remove_dup_spans" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
         |    ELSE list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+2], ' ')) END AS grams
         |  FROM t
         |), g0 AS (
         |  SELECT doc_id, unnest(range(0, len(grams))) AS pos0,
         |         unnest(list_transform(grams, w -> ${fpSql("w")})) AS h
         |  FROM sh WHERE len(grams) > 0
         |), g AS (
         |  SELECT doc_id, pos0 AS pos, h, doc_id * 1048576 + pos0 AS okey
         |  FROM g0
         |), d AS (
         |  SELECT h, min(okey) AS firstkey FROM g GROUP BY h
         |  HAVING count(*) > 1
         |), v AS (
         |  SELECT g.doc_id, g.pos FROM g JOIN d USING (h)
         |  WHERE g.okey != d.firstkey
         |), rp AS (
         |  SELECT DISTINCT doc_id, tp FROM (
         |    SELECT doc_id, unnest(range(pos, pos + 3)) AS tp FROM v)
         |), rl AS (
         |  SELECT doc_id, list_sort(list(tp)) AS rm FROM rp GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |  -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
         |  -- array_join([]) is '' (all-tokens-removed documents)
         |  COALESCE(CASE WHEN len(toks) = 0 THEN '' ELSE
         |    array_to_string(list_transform(
         |      list_filter(range(0, len(toks)),
         |        i -> NOT list_contains(COALESCE(rm, []), i)),
         |      i -> toks[CAST(i + 1 AS INT)]), ' ') END, '') AS text_clean,
         |  CAST(COALESCE(len(rm), 0) AS INT) AS n_removed
         |FROM t LEFT JOIN rl USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // unigram LM scoring: per-token NLL snapped to integer micro-units
    // (same fixed-point discipline as the PQ distances), exact integer
    // mean per document
    "q_unigram_nll" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(toks) AS token FROM t
         |), lm AS (
         |  SELECT token, count(*) AS cnt FROM w WHERE doc_id % 2 = 0
         |  GROUP BY token
         |), tot AS (
         |  SELECT sum(cnt) AS total, count(*) AS vocab FROM lm
         |)
         |SELECT w.doc_id,
         |  round(sum(CAST(round(-ln((COALESCE(lm.cnt, 0) + 1)
         |      / (tot.total + tot.vocab + 1)) * 1000000.0) AS BIGINT))
         |    * 1.0 / count(*) / 1000000.0, 6) AS avg_nll,
         |  count(*) AS n_tokens
         |FROM w LEFT JOIN lm USING (token) CROSS JOIN tot
         |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,

    // C4 line rules inside one list_filter — the SQL twin of the
    // higher-order-function form (no explode/re-group); the brace
    // document-drop predicate mirrors dropBraces over the injected '{'
    "q_c4_lines" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    regexp_replace(text, ' table', '.' || chr(10) || 'table', 'g')
         |      || '.'
         |      || CASE WHEN doc_id % 7 = 0 THEN ' {code}' ELSE '' END AS text
         |  FROM documents
         |), ls AS (
         |  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM aug
         |), k AS (
         |  SELECT doc_id, text, lines,
         |    list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$$')
         |      AND len(list_filter(string_split(trim(x), ' '),
         |            w -> length(w) > 0)) >= 3
         |      AND NOT contains(lower(trim(x)), 'slow')) AS kept
         |  FROM ls
         |)
         |SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean,
         |  CAST(len(kept) AS INT) AS n_kept,
         |  CAST(len(lines) - len(kept) AS INT) AS n_dropped
         |FROM k WHERE len(kept) >= 1 AND NOT contains(text, '{')
         |ORDER BY doc_id""".stripMargin,

    // NFC + control strip + whitespace collapse; the decoration literal
    // (shared with the query) carries the raw bytes — decomposed
    // e-acute, U+212B, BEL, tab — straight into the DuckDB string
    "q_text_normalize" ->
      raw"""WITH t AS (
         |  SELECT doc_id, text || '$normalizeDecoration' AS text
         |  FROM documents
         |), n AS (
         |  SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
         |      '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
         |      '[ \t]+', ' ', 'g')) AS text_norm
         |  FROM t)
         |SELECT doc_id, text_norm, text_norm <> text AS changed
         |FROM n ORDER BY doc_id""".stripMargin,

    // corpus-first line-occurrence rule as a window row_number; short
    // lines exempt; zipped unnest gives the line index
    "q_dedup_lines" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    regexp_replace(text, ' table', chr(10) || 'table', 'g')
         |      || CASE WHEN doc_id % 3 = 0
         |           THEN chr(10) || 'subscribe to our newsletter for more updates'
         |           ELSE '' END AS text
         |  FROM documents
         |), ls AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug
         |), l AS (
         |  SELECT doc_id, CAST(unnest(range(0, len(lines))) AS BIGINT) AS idx,
         |         unnest(lines) AS line
         |  FROM ls
         |), k AS (
         |  SELECT doc_id, idx, line,
         |    CASE WHEN length(line) >= 12
         |         THEN row_number() OVER (PARTITION BY line
         |                ORDER BY doc_id, idx)
         |         ELSE 1 END AS rn
         |  FROM l
         |)
         |SELECT doc_id,
         |  COALESCE(string_agg(line, chr(10) ORDER BY idx)
         |    FILTER (WHERE rn = 1), '') AS text_clean,
         |  CAST(count(*) FILTER (WHERE rn = 1) AS INT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE rn > 1) AS INT) AS n_dropped
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR: hashed unigram+bigram buckets, Laplace log-ratio snapped to
    // micro-units (unigramNll's trick), per-doc integer sum
    "q_dsir" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, unnest(list_concat(toks,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' ')) END)) AS gram
         |  FROM t
         |), b AS (
         |  SELECT doc_id, ${fpSql("gram")} % 1024 AS bucket FROM g
         |), tcs AS (
         |  SELECT bucket, count(*) AS tc FROM b WHERE doc_id % 50 = 0
         |  GROUP BY bucket
         |), rcs AS (
         |  SELECT bucket, count(*) AS rc FROM b GROUP BY bucket
         |), tot AS (
         |  SELECT (SELECT COALESCE(sum(tc), 0) FROM tcs) AS tt,
         |         (SELECT COALESCE(sum(rc), 0) FROM rcs) AS rt
         |), r AS (
         |  SELECT ab.bucket,
         |    CAST(round((ln(CAST(COALESCE(tcs.tc, 0) + 1 AS DOUBLE)
         |                   / (tot.tt + 1024))
         |              - ln(CAST(COALESCE(rcs.rc, 0) + 1 AS DOUBLE)
         |                   / (tot.rt + 1024)))
         |         * 1000000.0) AS BIGINT) AS ratio_u
         |  FROM (SELECT unnest(range(0, 1024)) AS bucket) ab
         |  CROSS JOIN tot
         |  LEFT JOIN tcs ON ab.bucket = tcs.bucket
         |  LEFT JOIN rcs ON ab.bucket = rcs.bucket
         |)
         |SELECT b.doc_id, count(*) AS n_feats,
         |  round(CAST(sum(r.ratio_u) AS DOUBLE) / 1000000.0, 6) AS log_w
         |FROM b JOIN r ON b.bucket = r.bucket
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,

    // DSIR selection: same weight CTEs, then the canonical window form
    // of the top-fraction cut — ranked by the LENGTH-NORMALIZED score
    // log_w / n_feats (match density; see Curation.dsirSelect), doc_id
    // tie-break
    "q_dsir_select" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, unnest(list_concat(toks,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' ')) END)) AS gram
         |  FROM t
         |), b AS (
         |  SELECT doc_id, ${fpSql("gram")} % 1024 AS bucket FROM g
         |), tcs AS (
         |  SELECT bucket, count(*) AS tc FROM b WHERE doc_id % 50 = 0
         |  GROUP BY bucket
         |), rcs AS (
         |  SELECT bucket, count(*) AS rc FROM b GROUP BY bucket
         |), tot AS (
         |  SELECT (SELECT COALESCE(sum(tc), 0) FROM tcs) AS tt,
         |         (SELECT COALESCE(sum(rc), 0) FROM rcs) AS rt
         |), r AS (
         |  SELECT ab.bucket,
         |    CAST(round((ln(CAST(COALESCE(tcs.tc, 0) + 1 AS DOUBLE)
         |                   / (tot.tt + 1024))
         |              - ln(CAST(COALESCE(rcs.rc, 0) + 1 AS DOUBLE)
         |                   / (tot.rt + 1024)))
         |         * 1000000.0) AS BIGINT) AS ratio_u
         |  FROM (SELECT unnest(range(0, 1024)) AS bucket) ab
         |  CROSS JOIN tot
         |  LEFT JOIN tcs ON ab.bucket = tcs.bucket
         |  LEFT JOIN rcs ON ab.bucket = rcs.bucket
         |), w AS (
         |  SELECT b.doc_id, count(*) AS n_feats,
         |    round(CAST(sum(r.ratio_u) AS DOUBLE) / 1000000.0, 6) AS log_w
         |  FROM b JOIN r ON b.bucket = r.bucket
         |  GROUP BY b.doc_id
         |), ranked AS (
         |  SELECT doc_id,
         |    row_number() OVER (
         |      ORDER BY log_w / n_feats DESC, doc_id ASC) AS rk,
         |    (SELECT CAST(ceil(count(*) * 0.25) AS BIGINT) FROM w) AS keep
         |  FROM w
         |)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN ranked k ON d.doc_id = k.doc_id AND k.rk <= k.keep
         |ORDER BY d.doc_id""".stripMargin,

    // NB classifier — same gram/bucket/micro-unit recipe as q_dsir; the
    // model grid is materialized per (class, bucket) so scoring never
    // misses the Laplace cell
    "q_nb_classify" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, source, unnest(list_concat(toks,
         |    CASE WHEN len(toks) < 2 THEN []
         |         ELSE list_transform(range(1, len(toks)),
         |                i -> array_to_string(toks[i:i+1], ' ')) END)) AS gram
         |  FROM t
         |), b AS (
         |  SELECT doc_id, source, ${fpSql("gram")} % 1024 AS bucket FROM g
         |), cls AS (
         |  SELECT source AS label, count(*) AS ndocs FROM documents
         |  WHERE doc_id % 5 <> 0 GROUP BY 1
         |), pri AS (
         |  SELECT label, CAST(round(ln(CAST(ndocs AS DOUBLE)
         |    / (SELECT sum(ndocs) FROM cls)) * 1000000.0) AS BIGINT) AS prior_u
         |  FROM cls
         |), cnts AS (
         |  SELECT source AS label, bucket, count(*) AS cnt FROM b
         |  WHERE doc_id % 5 <> 0 GROUP BY 1, 2
         |), tots AS (
         |  SELECT label, sum(cnt) AS tot FROM cnts GROUP BY 1
         |), th AS (
         |  SELECT tots.label, ab.bucket,
         |    CAST(round(ln(CAST(COALESCE(cnts.cnt, 0) + 1 AS DOUBLE)
         |                  / (tots.tot + 1024)) * 1000000.0) AS BIGINT) AS theta_u
         |  FROM tots
         |  CROSS JOIN (SELECT unnest(range(0, 1024)) AS bucket) ab
         |  LEFT JOIN cnts ON cnts.label = tots.label AND cnts.bucket = ab.bucket
         |), te AS (
         |  SELECT doc_id, source AS actual, bucket FROM b WHERE doc_id % 5 = 0
         |), sc AS (
         |  SELECT te.doc_id, th.label, min(te.actual) AS actual,
         |         sum(th.theta_u) AS ll_u
         |  FROM te JOIN th ON th.bucket = te.bucket GROUP BY 1, 2
         |), fin AS (
         |  SELECT sc.doc_id, sc.actual, sc.label,
         |         sc.ll_u + pri.prior_u AS score_u
         |  FROM sc JOIN pri USING (label)
         |), r AS (
         |  SELECT doc_id, actual, label, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score_u DESC, label ASC) AS rn
         |  FROM fin
         |)
         |SELECT doc_id, actual AS source, label AS predicted FROM r
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // the distributed exclusive prefix sum must equal the canonical
    // running-sum window form (token counting matches toksSql)
    "q_pack_sequences" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, n_toks,
         |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS tok_start
         |  FROM c
         |)
         |SELECT doc_id, n_toks, tok_start,
         |  tok_start // 256 AS seq_first,
         |  (tok_start + greatest(n_toks, 1) - 1) // 256 AS seq_last
         |FROM p ORDER BY doc_id""".stripMargin,

    "q_pack_spans" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, n_toks,
         |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS tok_start
         |  FROM c
         |), e AS (
         |  SELECT doc_id, n_toks, tok_start,
         |    unnest(generate_series(tok_start // 256,
         |      (tok_start + n_toks - 1) // 256)) AS seq_id
         |  FROM p WHERE n_toks > 0
         |)
         |SELECT seq_id, doc_id,
         |  greatest(seq_id * 256 - tok_start, 0) AS take_from,
         |  least((seq_id + 1) * 256, tok_start + n_toks)
         |    - greatest(seq_id * 256, tok_start) AS take_len
         |FROM e ORDER BY seq_id, doc_id""".stripMargin,

    // same prefix-sum CTE + cross-joined grand total; 16 shards
    "q_shard_manifest" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, n_toks,
         |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS tok_start
         |  FROM c
         |), t AS (
         |  SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS total FROM c
         |), s AS (
         |  SELECT doc_id, n_toks,
         |    CAST(least(tok_start * 16 // greatest(total, 1), 15) AS INT)
         |      AS shard
         |  FROM p, t
         |), h AS (
         |  SELECT doc_id,
         |    ${fpSql("(CAST(doc_id AS VARCHAR) || ':' || text)")} AS h
         |  FROM documents
         |)
         |SELECT shard, count(*) AS docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens,
         |  bit_xor(h) AS checksum
         |FROM s JOIN h USING (doc_id)
         |GROUP BY shard ORDER BY shard""".stripMargin,

    "q_shard_tokens" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, n_toks,
         |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS tok_start
         |  FROM c
         |), t AS (
         |  SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS total FROM c
         |)
         |SELECT doc_id, n_toks, tok_start,
         |  CAST(least(tok_start * 16 // greatest(total, 1), 15) AS INT)
         |    AS shard
         |FROM p, t ORDER BY doc_id""".stripMargin,

    // same scrambled-id LCG permutation as q_sample_exact, globally
    "q_shuffle_order" ->
      s"""SELECT doc_id, source,
         |  CAST(row_number() OVER (
         |    ORDER BY (doc_id % 1048576 * 2654435761 + 40503) % 1048576 ASC,
         |             doc_id ASC) - 1 AS BIGINT) AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,

    // per-source fractions + global row_number — the canonical window
    // form of the proportional interleave
    "q_interleave" ->
      s"""WITH k AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (
         |      PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS k,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM documents
         |)
         |SELECT doc_id, source,
         |  CAST(row_number() OVER (
         |    ORDER BY CAST(k + 1 AS DOUBLE) / (n + 1) ASC, source ASC, k ASC)
         |    - 1 AS BIGINT) AS pos
         |FROM k ORDER BY doc_id""".stripMargin,

    // novelty = left-join miss rate over the contamination shingle CTEs
    "q_novelty" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
         |                i -> array_to_string(toks[i:i+2], ' '))) END AS shingles
         |  FROM t
         |), ds AS (
         |  SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |), bs AS (
         |  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 50 = 0
         |)
         |SELECT d.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN bs.shingle IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN bs.shingle IS NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty
         |FROM ds d LEFT JOIN bs USING (shingle)
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    // the canonical single-partition window form of the curriculum
    // position (the impl is range-exchange + prefix-sum offsets)
    "q_curriculum" ->
      s"""SELECT doc_id, source,
         |  CAST(row_number() OVER (
         |    ORDER BY length(text) ASC, doc_id ASC) - 1 AS BIGINT) AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,

    // epoch 3: ids slide by 3 * 7919 before the same scramble
    "q_shuffle_epoch" ->
      s"""SELECT doc_id, source,
         |  CAST(row_number() OVER (
         |    ORDER BY ((doc_id + 23757) % 1048576 * 2654435761 + 40503)
         |               % 1048576 ASC,
         |             doc_id ASC) - 1 AS BIGINT) AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same scrambled-id LCG draw as the Spark window (idScramble)
    "q_sample_exact" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY (doc_id % 1048576 * 2654435761 + 40503) % 1048576 ASC,
         |             doc_id ASC) AS rk
         |  FROM documents)
         |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    // the distributed id assignment must equal the canonical window form
    "q_assign_ids" ->
      s"""SELECT doc_id, source,
         |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
         |FROM documents ORDER BY doc_id""".stripMargin,

    // snapshot drift: same micro-unit log-ratio fixed point as
    // q_unigram_nll; window totals over the full-outer token join
    "q_corpus_drift" ->
      s"""WITH tp AS (
         |  SELECT source, unnest($toksSql) AS token FROM documents
         |  WHERE (doc_id // 20) % 2 = 0
         |), tc AS (
         |  SELECT source, unnest($toksSql) AS token FROM documents
         |  WHERE (doc_id // 20) % 2 = 1
         |), pc AS (SELECT source, token, count(*) AS q_cnt FROM tp GROUP BY 1, 2),
         |cc AS (SELECT source, token, count(*) AS c_cnt FROM tc GROUP BY 1, 2),
         |j AS (
         |  SELECT COALESCE(pc.source, cc.source) AS source,
         |         COALESCE(q_cnt, 0) AS q_cnt, COALESCE(c_cnt, 0) AS c_cnt
         |  FROM pc FULL OUTER JOIN cc
         |    ON pc.source = cc.source AND pc.token = cc.token
         |), w AS (
         |  SELECT source, q_cnt, c_cnt,
         |    sum(q_cnt) OVER (PARTITION BY source) AS q_tot,
         |    sum(c_cnt) OVER (PARTITION BY source) AS c_tot,
         |    count(*) OVER (PARTITION BY source) AS vocab
         |  FROM j
         |), u AS (
         |  SELECT source, c_cnt, c_tot, q_tot, vocab,
         |    CAST(round(ln(
         |      CAST((c_cnt + 1) * (q_tot + vocab) AS DOUBLE) /
         |      CAST((q_cnt + 1) * (c_tot + vocab) AS DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS lr_u
         |  FROM w
         |)
         |SELECT source,
         |  round(CAST(sum((c_cnt + 1) * lr_u) AS DOUBLE)
         |    / CAST(max(c_tot) + max(vocab) AS DOUBLE) / 1000000.0, 6) AS kl,
         |  CAST(max(q_tot) AS BIGINT) AS prev_tokens,
         |  CAST(max(c_tot) AS BIGINT) AS cur_tokens,
         |  CAST(max(vocab) AS BIGINT) AS vocab
         |FROM u GROUP BY source ORDER BY source""".stripMargin,

    // mixture solver: same integer floor-division allocation (div = //
    // on non-negative operands), same round-4 epochs ratio; LEFT JOIN
    // from the weight table so the corpus-absent srcX row survives with
    // total_tokens=0 / epochs NULL (the outer-join contract)
    "q_mixture_solve" ->
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(sum(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY source
         |), w(source, weight) AS (
         |  VALUES ('src0', CAST(6 AS BIGINT)), ('src1', CAST(3 AS BIGINT)),
         |         ('src2', CAST(1 AS BIGINT)), ('srcX', CAST(2 AS BIGINT))
         |)
         |SELECT w.source, coalesce(total_tokens, 0) AS total_tokens, weight,
         |  (1000000 * weight) // 12 AS target_tokens,
         |  CASE WHEN coalesce(total_tokens, 0) > 0 THEN
         |    round(CAST((1000000 * weight) // 12 AS DOUBLE) / total_tokens, 4)
         |  END AS epochs
         |FROM w LEFT JOIN t ON t.source = w.source ORDER BY w.source""".stripMargin,

    // --- URL curation tier: the synth + canonicalization + domain SQL
    // fragments are built by UrlCuration from the SAME regexes/rules the
    // Spark columns use
    "q_url_canonical" ->
      s"""WITH u AS (SELECT doc_id, ${UrlCuration.urlSql} AS url FROM documents)
         |SELECT doc_id, url, ${UrlCuration.canonSql("url")} AS url_canon
         |FROM u ORDER BY doc_id""".stripMargin,

    "q_url_domains" ->
      s"""WITH u AS (SELECT doc_id, ${UrlCuration.urlSql} AS url FROM documents),
         |d AS (SELECT ${UrlCuration.domainSql("url")} AS domain,
         |             ${UrlCuration.canonSql("url")} AS url_canon FROM u)
         |SELECT domain, count(*) AS n_docs,
         |       count(DISTINCT url_canon) AS n_urls
         |FROM d GROUP BY domain ORDER BY domain""".stripMargin,

    "q_url_dedup" ->
      s"""WITH u AS (SELECT doc_id, ${UrlCuration.urlSql} AS url FROM documents),
         |c AS (SELECT doc_id, ${UrlCuration.canonSql("url")} AS url_canon FROM u)
         |SELECT url_canon, min(doc_id) AS keeper, count(*) AS dups
         |FROM c WHERE url_canon IS NOT NULL
         |GROUP BY url_canon HAVING count(*) > 1
         |ORDER BY url_canon""".stripMargin,

    "q_url_domain_prior" ->
      s"""WITH u AS (SELECT doc_id, text, ${UrlCuration.urlSql} AS url FROM documents),
         |d AS (
         |  SELECT doc_id, ${UrlCuration.domainSql("url")} AS domain,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS n_toks
         |  FROM u
         |), p AS (
         |  SELECT domain, CAST(count(*) AS BIGINT) AS n_domain_docs,
         |    round(CAST(sum(n_toks) AS DOUBLE) / count(n_toks), 6) AS domain_mean
         |  FROM d WHERE domain IS NOT NULL GROUP BY domain
         |)
         |SELECT doc_id, d.domain, n_domain_docs, domain_mean
         |FROM d JOIN p ON d.domain = p.domain
         |ORDER BY doc_id""".stripMargin,

    "q_url_blocklist_cap" ->
      s"""WITH u AS (SELECT doc_id, ${UrlCuration.urlSql} AS url FROM documents),
         |d AS (SELECT doc_id, ${UrlCuration.domainSql("url")} AS domain FROM u),
         |f AS (SELECT * FROM d WHERE domain IS NOT NULL AND domain NOT IN
         |        ('site3.com', 'site7.co.uk', 'site11.net', 'site5.com.au')),
         |r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
         |        ORDER BY (doc_id % 1048576 * 2654435761 + 40503) % 1048576 ASC,
         |                 doc_id ASC) AS rk
         |      FROM f)
         |SELECT doc_id, domain FROM r WHERE rk <= 5 ORDER BY doc_id""".stripMargin,

    // composed pipeline: repetition filter -> cluster dedup -> decontam ->
    // mixing -> chunking, each stage the SQL twin of its Curation operator
    "q_curate" ->
      s"""WITH RECURSIVE t0 AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(toks) AS gram FROM t0
         |), wc AS (
         |  SELECT doc_id, gram, count(*) AS c FROM w GROUP BY doc_id, gram
         |), ws AS (
         |  SELECT doc_id, sum(c) AS total, count(*) AS uniq FROM wc GROUP BY doc_id
         |), docs1 AS (
         |  SELECT d.* FROM documents d LEFT JOIN ws ON ws.doc_id = d.doc_id
         |  WHERE round(CASE WHEN COALESCE(ws.total, 0) > 0
         |    THEN (ws.total - ws.uniq) * 1.0 / ws.total ELSE 0.0 END, 6) <= 0.55
         |), ${minhashBucketCtes("docs1")}, cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM cand
         |), reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), docs2 AS (
         |  SELECT d.* FROM docs1 d LEFT JOIN (
         |    SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
         |    ON m.src = d.doc_id
         |  WHERE least(d.doc_id, COALESCE(m.mn, d.doc_id)) = d.doc_id
         |), bsh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
         |                i -> array_to_string(toks[i:i+2], ' '))) END AS shingles
         |  FROM t0 WHERE doc_id % 50 = 0
         |), bs AS (
         |  SELECT DISTINCT unnest(shingles) AS shingle FROM bsh
         |), cont AS (
         |  SELECT DISTINCT s.doc_id FROM (
         |    SELECT doc_id, unnest(shingles) AS shingle FROM sh) s
         |  JOIN bs USING (shingle)
         |), docs4 AS (
         |  SELECT * FROM docs2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)
         |    AND ${ppmSql("mix")} <
         |      CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 250000
         |                  WHEN 'src2' THEN 500000 ELSE 1000000 END
         |), ct AS (
         |  SELECT t0.doc_id, t0.toks FROM t0 JOIN docs4 USING (doc_id)
         |  WHERE len(t0.toks) > 0
         |), cc AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, ((greatest(len(toks) - 64, 0) + 47) // 48) + 1))
         |      AS chunk_id
         |  FROM ct
         |)
         |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |  CAST(len(toks[CAST(chunk_id * 48 + 1 AS INT):CAST(chunk_id * 48 + 64 AS INT)]) AS INT)
         |    AS n_chunk_tokens,
         |  array_to_string(toks[CAST(chunk_id * 48 + 1 AS INT):CAST(chunk_id * 48 + 64 AS INT)], ' ')
         |    AS chunk_text
         |FROM cc ORDER BY doc_id, chunk_id""".stripMargin,

    "q_simhash_candidates" -> simhashCandidatesOracle(maxBucket = 0L),

    "q_simhash_candidates_capped" -> simhashCandidatesOracle(maxBucket = 100L),
    "q_simhash_candidates_wide" -> simhashWideOracle(maxBucket = 100L),

    "q_pq_codes" ->
      s"""WITH $eCte, ${pqAsgCtes()}
         |SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS codes
         |FROM asg GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_embed_ann_pq" ->
      s"""WITH $eCte, ${pqAsgCtes()}, qs AS (
         |  SELECT e.vec_id AS query_id, s.sub,
         |    v[CAST(s.sub * (len(v) // 4) + 1 AS INT):CAST(CASE WHEN s.sub = 3 THEN len(v) ELSE (s.sub + 1) * (len(v) // 4) END AS INT)] AS sv
         |  FROM e, (SELECT unnest(range(0, 4)) AS sub) s
         |  WHERE e.vec_id < 10
         |), qt AS (
         |  SELECT qs.query_id, qs.sub, cb.code,
         |    CAST(round(${l2Sql("qs.sv", "cb.csv")} * 1000000.0) AS BIGINT) AS qd2u
         |  FROM qs JOIN cb ON cb.sub = qs.sub
         |), adc AS (
         |  SELECT qt.query_id, asg.vec_id AS nbr_id, sum(qt.qd2u) AS d2u
         |  FROM asg JOIN qt ON qt.sub = asg.sub AND qt.code = asg.code
         |  GROUP BY qt.query_id, asg.vec_id
         |)
         |SELECT query_id, nbr_id, round(d2u / 1000000.0, 6) AS approx_d2,
         |  CAST(rank AS INT) AS rank
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2u ASC, nbr_id ASC) AS rank
         |  FROM adc WHERE query_id <> nbr_id)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "q_embed_ann_ivfpq" ->
      s"""WITH ${adcCtes()}
         |SELECT query_id, nbr_id, round(d2u / 1000000.0, 6) AS approx_d2,
         |  CAST(rank AS INT) AS rank
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2u ASC, nbr_id ASC) AS rank
         |  FROM adc WHERE query_id <> nbr_id)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // two-stage: ADC ranks kCandidates=10 cheaply, the candidate set is
    // re-ranked by EXACT cosine over the full vectors (FAISS refine)
    "q_embed_ann_refine" ->
      s"""WITH ${adcCtes()}, cand AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY d2u ASC, nbr_id ASC) AS rank
         |    FROM adc WHERE query_id <> nbr_id)
         |  WHERE rank <= 10
         |), refined AS (
         |  SELECT cand.query_id, cand.nbr_id,
         |    round(${cosSql("qe.v", "ne.v")}, 4) AS cosine
         |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
         |            JOIN e ne ON ne.vec_id = cand.nbr_id
         |)
         |SELECT query_id, nbr_id, cosine, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
         |  FROM refined)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q_embed_ann_ivfpq_res" ->
      s"""WITH $eCte, c2 AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY (vec_id % 1048576 * 2654435761 + 40503) % 1048576, vec_id
         |  LIMIT 10
         |), coarse AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c2.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c2.cv")}, 6) DESC, c2.cid ASC) AS rn
         |    FROM e, c2) WHERE rn = 1
         |), r AS (
         |  SELECT e.vec_id, coarse.cid,
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> e.v[CAST(i AS INT)] - c2.cv[CAST(i AS INT)]) AS v
         |  FROM e JOIN coarse ON coarse.vec_id = e.vec_id
         |         JOIN c2 ON c2.cid = coarse.cid
         |), ${pqAsgCtes("r")}, probes AS (
         |  SELECT query_id, cid, qres FROM (
         |    SELECT e.vec_id AS query_id, c2.cid,
         |      list_transform(range(1, len(e.v) + 1),
         |        i -> e.v[CAST(i AS INT)] - c2.cv[CAST(i AS INT)]) AS qres,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.v", "c2.cv")}, 6) DESC, c2.cid ASC) AS crn
         |    FROM e, c2 WHERE e.vec_id < 10) WHERE crn <= 3
         |), qs AS (
         |  SELECT query_id, cid, CAST(s.sub AS BIGINT) AS sub,
         |    qres[CAST(s.sub * (len(qres) // 4) + 1 AS INT):CAST(CASE WHEN s.sub = 3 THEN len(qres) ELSE (s.sub + 1) * (len(qres) // 4) END AS INT)] AS sv
         |  FROM probes, (SELECT unnest(range(0, 4)) AS sub) s
         |), qt AS (
         |  SELECT qs.query_id, qs.cid, qs.sub, cb.code,
         |    CAST(round(${l2Sql("qs.sv", "cb.csv")} * 1000000.0) AS BIGINT) AS qd2u
         |  FROM qs JOIN cb ON cb.sub = qs.sub
         |), adc AS (
         |  SELECT qt.query_id, asg.vec_id AS nbr_id, sum(qt.qd2u) AS d2u
         |  FROM asg
         |  JOIN r ON r.vec_id = asg.vec_id
         |  JOIN qt ON qt.cid = r.cid AND qt.sub = asg.sub AND qt.code = asg.code
         |  GROUP BY qt.query_id, asg.vec_id
         |)
         |SELECT query_id, nbr_id, round(d2u / 1000000.0, 6) AS approx_d2,
         |  CAST(rank AS INT) AS rank
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2u ASC, nbr_id ASC) AS rank
         |  FROM adc WHERE query_id <> nbr_id)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "q_corpus_report" ->
      s"""WITH p AS (
         |  SELECT source, md5(text) AS text_md5,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |              ELSE len($toksSql) END AS BIGINT) AS n_toks
         |  FROM documents
         |), g AS (
         |  SELECT source, text_md5, count(*) AS copies, sum(n_toks) AS toks
         |  FROM p GROUP BY source, text_md5
         |)
         |SELECT source,
         |  CAST(sum(copies) AS BIGINT) AS n_docs,
         |  count(*) AS n_uniq_texts,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  round(sum(toks) * 1.0 / sum(copies), 2) AS avg_tokens
         |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "q_corpus_quantiles" ->
      s"""WITH p AS (
         |  SELECT source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |              ELSE len($toksSql) END AS BIGINT) AS n_toks
         |  FROM documents
         |)
         |SELECT source,
         |  round(quantile_cont(n_toks, 0.5), 2) AS p50_tokens,
         |  round(quantile_cont(n_toks, 0.9), 2) AS p90_tokens,
         |  round(quantile_cont(n_toks, 0.99), 2) AS p99_tokens
         |FROM p GROUP BY source ORDER BY source""".stripMargin,

    "q_chunk_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) > 0
         |), c AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, ((greatest(len(toks) - 16, 0) + 15) // 16) + 1))
         |      AS chunk_id
         |  FROM t
         |), ch AS (
         |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |    md5(array_to_string(toks[CAST(chunk_id * 16 + 1 AS INT):CAST(chunk_id * 16 + 16 AS INT)], ' '))
         |      AS chunk_md5
         |  FROM c
         |)
         |SELECT first.doc_id AS doc_id, first.chunk_id AS chunk_id, dup_count
         |FROM (
         |  SELECT min(struct_pack(doc_id := doc_id, chunk_id := chunk_id)) AS first,
         |    count(*) AS dup_count
         |  FROM ch GROUP BY chunk_md5
         |)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${ppmSql("split")} < 100000 THEN 'val'
         |       WHEN ${ppmSql("split")} < 200000 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_vocab_top" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, count(*) AS cnt FROM t GROUP BY token
         |ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin,

    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
         |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
         |), ranked AS (
         |  SELECT doc_id, token, tf, df, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, token ASC) AS rank
         |  FROM scored
         |)
         |SELECT doc_id, token, tf, df, tfidf, rank FROM ranked
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, source FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_normalized" ->
      """SELECT doc_id, dup_count FROM (
        |  SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |  FROM documents GROUP BY md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[!-/:-@\[-`{-~]', ' ', 'g'), '\s+', ' ', 'g')))
        |) ORDER BY doc_id""".stripMargin,

    "q_margin_mine_lsh" ->
      s"""WITH $lshBucketCtes, cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS nbr_id
         |  FROM bk a JOIN bk c ON a.bucket = c.bucket
         |  WHERE a.vec_id % 2 = 0 AND c.vec_id % 2 = 1
         |), p0 AS (
         |  SELECT cand.query_id, cand.nbr_id,
         |    round(${cosSql("qe.v", "ne.v")}, 6) AS cosine
         |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
         |            JOIN e ne ON ne.vec_id = cand.nbr_id
         |), p AS (SELECT * FROM p0 WHERE cosine > 0), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, nbr_id) AS rq,
         |    row_number() OVER (PARTITION BY nbr_id
         |      ORDER BY cosine DESC, query_id) AS rn
         |  FROM p
         |), m AS (
         |  SELECT *,
         |    avg(CASE WHEN rq <= 4 THEN cosine END)
         |      OVER (PARTITION BY query_id) AS aq,
         |    avg(CASE WHEN rn <= 4 THEN cosine END)
         |      OVER (PARTITION BY nbr_id) AS an
         |  FROM r
         |), sm AS (
         |  SELECT query_id, nbr_id, cosine,
         |    round(cosine / ((aq + an) / 2), 6) AS margin
         |  FROM m
         |), t AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY margin DESC, nbr_id) AS rm FROM sm
         |)
         |SELECT query_id, nbr_id, cosine, margin FROM t
         |WHERE rm = 1 AND margin >= 1.0 ORDER BY query_id""".stripMargin,

    "q_margin_mine" ->
      s"""WITH qa AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id % 2 = 0
         |), cb AS (
         |  SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS nv
         |  FROM embeddings WHERE vec_id % 2 = 1
         |), p0 AS (
         |  SELECT query_id, nbr_id, round(${cosSql("qv", "nv")}, 6) AS cosine
         |  FROM cb CROSS JOIN qa WHERE query_id <> nbr_id
         |), p AS (SELECT * FROM p0 WHERE cosine > 0), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, nbr_id) AS rq,
         |    row_number() OVER (PARTITION BY nbr_id
         |      ORDER BY cosine DESC, query_id) AS rn
         |  FROM p
         |), m AS (
         |  SELECT *,
         |    avg(CASE WHEN rq <= 4 THEN cosine END)
         |      OVER (PARTITION BY query_id) AS aq,
         |    avg(CASE WHEN rn <= 4 THEN cosine END)
         |      OVER (PARTITION BY nbr_id) AS an
         |  FROM r
         |), s AS (
         |  SELECT query_id, nbr_id, cosine,
         |    round(cosine / ((aq + an) / 2), 6) AS margin
         |  FROM m
         |), t AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY margin DESC, nbr_id) AS rm FROM s
         |)
         |SELECT query_id, nbr_id, cosine, margin FROM t
         |WHERE rm = 1 AND margin >= 1.0 ORDER BY query_id""".stripMargin,

    "q_kmeans" ->
      s"""WITH ${kmeansSql(8, 2)}
         |SELECT vec_id, cid, round(l2, 6) AS dist FROM af
         |ORDER BY vec_id""".stripMargin,

    // purity over the same deterministic kmeans CTE; majority label by
    // (count desc, label asc) row_number = the max_by tie-break
    "q_cluster_purity" ->
      s"""WITH ${kmeansSql(8, 2)},
         |lab AS (
         |  SELECT af.cid, emb.label FROM af
         |  JOIN (SELECT vec_id, label FROM embeddings) emb
         |    ON af.vec_id = emb.vec_id
         |), cl AS (
         |  SELECT cid, label, count(*) AS cnt FROM lab GROUP BY 1, 2
         |), r AS (
         |  SELECT cid, label, cnt,
         |    row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, label ASC) AS rn,
         |    sum(cnt) OVER (PARTITION BY cid) AS tot,
         |    max(cnt) OVER (PARTITION BY cid) AS mx
         |  FROM cl
         |)
         |SELECT cid, CAST(tot AS BIGINT) AS n_vecs, label AS majority_label,
         |  round(CAST(mx AS DOUBLE) / tot, 6) AS purity
         |FROM r WHERE rn = 1 ORDER BY cid""".stripMargin,

    "q_bm25" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks) AS dl FROM t),
         |stats AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM d),
         |tf0 AS (
         |  SELECT doc_id, unnest(list_filter(toks,
         |    x -> list_contains(['spark','stream','filter'], x))) AS term
         |  FROM t
         |), tf AS (
         |  SELECT tf0.doc_id, d.dl, term, count(*) AS tf
         |  FROM tf0 JOIN d ON tf0.doc_id = d.doc_id GROUP BY 1, 2, 3
         |), df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id,
         |    round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25,
         |    count(*) AS n_terms
         |  FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY 1)
         |SELECT doc_id, bm25, n_terms,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
         |FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,

    "q_quality_checks" ->
      """WITH m AS (
        |  SELECT
        |    round(CAST(count(*) AS DOUBLE), 6) AS size_v,
        |    round(avg(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS comp_v,
        |    round(CAST(count(DISTINCT doc_id) AS DOUBLE) / count(*), 6) AS uniq_v,
        |    round(avg(CAST(n_chars AS DOUBLE)), 6) AS mean_v,
        |    round(CAST(min(n_chars) AS DOUBLE), 6) AS min_v,
        |    round(avg(CASE WHEN regexp_matches(text, '[0-9]') THEN 1.0 ELSE 0.0 END), 6) AS pat_v,
        |    round(avg(CASE WHEN lang IN ('en','de','fr') THEN 1.0 ELSE 0.0 END), 6) AS set_v
        |  FROM documents),
        |r AS (
        |  SELECT 'size' AS chk, size_v AS value, CAST(100.0 AS DOUBLE) AS lo,
        |         CAST(9223372036854775807 AS DOUBLE) AS hi FROM m
        |  UNION ALL SELECT 'completeness(text)', comp_v, 0.99, 1.0 FROM m
        |  UNION ALL SELECT 'uniqueness(doc_id)', uniq_v, 0.999, 1.0 FROM m
        |  UNION ALL SELECT 'mean(n_chars)', mean_v, 100.0, 500.0 FROM m
        |  UNION ALL SELECT 'min(n_chars)', min_v, 1.0, CAST('infinity' AS DOUBLE) FROM m
        |  UNION ALL SELECT 'pattern(text)', pat_v, 0.05, 1.0 FROM m
        |  UNION ALL SELECT 'in_set(lang)', set_v, 0.5, 1.0 FROM m)
        |SELECT chk AS "check", value, lo, hi,
        |       value >= lo AND value <= hi AS passed
        |FROM r ORDER BY chk""".stripMargin,

    "q_source_overlap" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |g0 AS (
         |  SELECT source, CASE WHEN len(toks) < 3 THEN []
         |    ELSE list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+2], ' ')) END AS grams
         |  FROM t),
         |gs AS (
         |  SELECT DISTINCT source, ${fpSql("w")} AS g
         |  FROM (SELECT source, unnest(grams) AS w FROM g0)),
         |tot AS (SELECT source, count(*) AS total FROM gs GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         count(*) AS shared_grams
         |  FROM gs a JOIN gs b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, shared_grams,
         |  round(CAST(shared_grams AS DOUBLE) /
         |    (ta.total + tb.total - shared_grams), 6) AS jaccard
         |FROM pairs
         |JOIN tot ta ON ta.source = pairs.source_a
         |JOIN tot tb ON tb.source = pairs.source_b
         |ORDER BY source_a, source_b""".stripMargin,

    "q_corpus_diff" ->
      """WITH prev AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'MOD ' || text ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
        |j AS (
        |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |    CASE WHEN p.doc_id IS NULL THEN 'added'
        |         WHEN c.doc_id IS NULL THEN 'removed'
        |         WHEN p.text <> c.text THEN 'changed' END AS status
        |  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "q_quality_anomaly" ->
      """WITH prevm AS (
        |  SELECT round(CAST(count(*) AS DOUBLE), 6) AS s,
        |         round(avg(CAST(n_chars AS DOUBLE)), 6) AS m,
        |         round(avg(CASE WHEN regexp_matches(text, '[0-9]')
        |                   THEN 1.0 ELSE 0.0 END), 6) AS p
        |  FROM documents WHERE doc_id % 2 = 0),
        |curm AS (
        |  SELECT round(CAST(count(*) AS DOUBLE), 6) AS s,
        |         round(avg(CAST(n_chars AS DOUBLE)), 6) AS m,
        |         round(avg(CASE WHEN regexp_matches(text, '[0-9]')
        |                   THEN 1.0 ELSE 0.0 END), 6) AS p
        |  FROM documents),
        |r AS (
        |  SELECT 'size' AS chk, curm.s AS cur, prevm.s AS prev FROM curm, prevm
        |  UNION ALL SELECT 'mean(n_chars)', curm.m, prevm.m FROM curm, prevm
        |  UNION ALL SELECT 'pattern(text)', curm.p, prevm.p FROM curm, prevm),
        |a AS (
        |  SELECT chk, cur, prev,
        |    CASE WHEN prev = 0.0 AND cur = 0.0 THEN 0.0
        |         WHEN prev = 0.0 THEN CAST('infinity' AS DOUBLE)
        |         ELSE round(abs(cur / prev - 1.0), 6) END AS rel_change
        |  FROM r)
        |SELECT chk AS "check", cur, prev, rel_change,
        |       coalesce(rel_change > 0.5, FALSE) AS anomalous
        |FROM a ORDER BY chk""".stripMargin,

    "q_winnow_native" ->
      s"""WITH ${winnowFpSql(5, 4)}
         |SELECT doc_id, pos, fp FROM fp ORDER BY doc_id, pos""".stripMargin,

    "q_winnow_candidates" ->
      s"""WITH ${winnowFpSql(3, 4)},
         |u AS (SELECT DISTINCT doc_id, fp FROM fp)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |FROM u a JOIN u b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin,

    // incremental twin — union of the two ingests must equal the batch
    // candidate set over the whole corpus, so the oracle is identical
    "q_winnow_incremental" ->
      s"""WITH ${winnowFpSql(3, 4)},
         |u AS (SELECT DISTINCT doc_id, fp FROM fp)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |FROM u a JOIN u b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin,

    "q_ts_anomaly" ->
      """WITH b AS (
        |  SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
        |    round(sum(value), 2) AS value
        |  FROM events GROUP BY 1, 2
        |), roll AS (
        |  SELECT event_type, bucket_ms, value,
        |    avg(value) OVER w AS mean, stddev_samp(value) OVER w AS sd,
        |    count(value) OVER w AS n_prev
        |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, bucket_ms, value, round(mean, 6) AS mean,
        |  round(sd, 6) AS sd, round((value - mean) / sd, 4) AS z
        |FROM roll
        |WHERE n_prev >= 12 AND sd > 0 AND abs(round((value - mean) / sd, 4)) >= 2.0
        |ORDER BY event_type, bucket_ms""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH w AS (SELECT unnest($toksSql) AS w FROM documents),
         |p AS (
         |  SELECT unnest(CASE WHEN length(w) < 2 THEN []
         |    ELSE list_transform(range(1, length(w)),
         |           i -> substr(w, CAST(i AS INT), 2)) END) AS pair
         |  FROM w
         |)
         |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
         |ORDER BY cnt DESC, pair ASC LIMIT 100""".stripMargin,
  )
}
