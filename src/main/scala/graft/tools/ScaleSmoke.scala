package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{DnsExternalResolvers, HostDailyProfile, PatternFinder}
import graft.core.{DocSynth, FlowSynth}
import graft.pipeline.{Curation, IncrementalDedup, IvfPqIndex, Similarity, TextPipeline}

/** Scale-up smoke for the heavy tier: runs the candidate-pair operators on
  * synthetic corpora at two (or more) scales generated by the SAME process
  * ([[DocSynth]]), so wall-time and shuffle-volume growth between scales
  * is attributable to the operators, not to a different data distribution.
  *
  * Usage: `runMain graft.tools.ScaleSmoke [nDocs,nDocs,...]` for the
  * doc/embedding tier (default `5000,50000` — the sf0.1 shape and 10×
  * it, "sf1"; embeddings scale at the testdata ratio, 2 vectors /
  * 5 docs), or `runMain graft.tools.ScaleSmoke flows [nEvents,...]`
  * (default `100000,1000000`) for the flow-analytics tier: the three
  * join/window shapes worth proving linear — the hourly→daily window
  * cascade (q_host_daily_profile), the biflow self-join
  * (q_pattern_finder), and the time-proximity as-of join
  * (q_dns_external_resolvers) — over events synthesized at scale with
  * the testdata's distribution shape (same 30-day window at every
  * scale, so growth densifies the windows the way real traffic would,
  * rather than stretching time).
  *
  * Prints one JSON line per scale:
  * `{"n_docs":N,"queries":{q:{"sec":s,"rows":r,"shuffle_mb":m,
  * "mem_spill_mb":sm,"disk_spill_mb":sd},...}}` where shuffle_mb is the
  * total shuffle WRITE across the query's stages ([[StageMeter]], one
  * job group per query) — the number that decides whether a
  * shape survives a 100× scale-up — and the spill fields are the
  * memory-pressure smoke's signal: rerun the heavy tier with a
  * deliberately constrained heap (e.g. `-Xmx6g SPARK_GRAFT_CPUS=8`,
  * ~0.75 g/core — a tight production executor) and a healthy plan
  * completes with NONZERO spill instead of OOMing.
  *
  * Production-posture parameters: the skew caps (near-dup maxDf, LSH
  * maxBucket) are ABSOLUTE, not corpus-proportional — a shingle/bucket
  * holding d documents contributes d² candidate pairs, so a cap that
  * scales with N guarantees quadratic pair growth (measured: maxDf=N/25
  * turned 10× docs into 73× wall / 80× shuffle). Hot shingles carry no
  * similarity signal anyway; recall comes from the rare tail. The eval
  * set for decontamination is FIXED SIZE for the same reason — a
  * benchmark doesn't grow with the training corpus, and a proportional
  * one makes the contamination fraction (and the measurement) scale-
  * dependent. Only IVF-PQ's nlist legitimately grows (sqrt(N), the
  * standard inverted-list sizing).
  *
  * Warmup: a 2k-doc pass JITs the shared infrastructure, and (default
  * policy `decade`) each scale gets its OWN untimed pass before timing —
  * large decades pick different plan shapes (broadcast→SMJ, AQE
  * coalesce) whose codegen classes a small warmup never compiles
  * (observed: near-dup 20 s cold vs 1.5 s warm on identical data at
  * 5k; 263.7 s cold vs 135.0 s warm at 5M). `SPARK_GRAFT_SMOKE_WARM` =
  * `once` | `off` restores the legacy or fully-cold behavior.
  *
  * Heap: local[32] packs 32 executor threads into ONE JVM, so the
  * default 8 g (`SPARK_DRIVER_MEM`) is 250 MB/core — an order below any
  * production executor. The lossless tiled tier at 50k docs (215 M
  * pairs, 32 concurrent hash-join/agg tasks) OOMs there; run with
  * `SPARK_DRIVER_MEM=48g` (1.5 g/core, a normal executor sizing).
  */
object ScaleSmoke {

  /** Rows that only run when EXPLICITLY named in
    * `SPARK_GRAFT_SMOKE_QUERIES`: the recall-lossless tiled simhash is
    * quadratic-in-corpus BY DATA PROPERTY on this synthetic corpus (one
    * band bucket holds every doc — 25.6 M true pairs at 50k, ~2.5 G at
    * 500k), so including it in a default full-tier run at the 500k
    * decade would wedge the smoke for hours measuring the data, not the
    * plan. Run it deliberately, at a scale chosen for the question
    * being asked (e.g. the memory-pressure smoke runs it at 50k). */
  private val optIn = Set("q_simhash_candidates_tiled",
    "docs_bucketize", "q_hybrid_dedup_bucketed")

  /** Optional comma-separated query-name filter
    * (`SPARK_GRAFT_SMOKE_QUERIES=a,b`) — ad-hoc smokes of one or two
    * rows without paying for the whole tier. */
  private def filterSet[A](qs: Seq[(String, A)]): Seq[(String, A)] =
    sys.env.get("SPARK_GRAFT_SMOKE_QUERIES")
      .map(_.split(",").toSet)
      .map(only => qs.filter { case (n, _) => only(n) })
      .getOrElse(qs.filterNot { case (n, _) => optIn(n) })

  /** Warm policy (`SPARK_GRAFT_SMOKE_WARM`): `decade` (default) runs the
    * query set once UNTIMED at every scale before its timed pass — the
    * small-corpus warmup does not JIT the large-decade plan shapes (the
    * broadcast→SMJ flip and AQE coalesce pick different codegen classes
    * past ~1M docs; measured in r15: two committed 5M cells carried
    * cold-codegen walls, 263.7 s cold vs 135.0 s warm, and needed a
    * starred prose correction). `once` restores the legacy small-scale
    * warmup only; `off` disables all warmup (deliberate cold timing). */
  private def warmPolicy: String =
    sys.env.getOrElse("SPARK_GRAFT_SMOKE_WARM", "decade")

  /** One untimed pass over the (filtered) query set. */
  private def warmPass(spark: SparkSession, label: String,
                       qs: Seq[(String, () => DataFrame)]): Unit =
    qs.foreach { case (name, mk) =>
      spark.catalog.clearCache()
      try mk().count()
      catch { case e: Throwable =>
        System.err.println(s"[scale] warmup($label) $name FAILED: $e") }
    }

  /** Synthetic `events` rows at arbitrary scale, mirroring the driver
    * testdata's shape (TESTDATA.md: 1M rows/sf, 15k users/sf, 5 event
    * types, 30-day window; ts built as epoch-nanos and re-encoded to the
    * driver's current parquet layout by [[flowTier]]'s materialize).
    * Deterministic in `id`, so every scale is a superset distribution of
    * the smaller one. All ts values are micro-aligned (multiples of
    * 1e6 ns), so the nanos→micros parquet round-trip is lossless. */
  private def eventsSynth(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val baseNs = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    val monthSec = 30L * 24 * 3600
    spark.range(n).select(
      id.as("event_id"),
      (lit(baseNs) + (id * 2654435761L % monthSec) * 1000000000L +
        (id % 997) * 1000000L).as("ts"),
      // xxhash mixing, NOT a linear congruence: user = m·id mod U with
      // U sharing a factor with the event-type modulus would give every
      // user a single event type (no user ever pairs a DNS answer with
      // TCP activity — the as-of join goes vacuously empty)
      pmod(xxhash64(id), lit(math.max(1L, n * 15 / 1000))).as("user_id"),
      element_at(
        lit(Array("click", "view", "purchase", "signup", "error")),
        (id % 5).cast("int") + 1).as("event_type"),
      ((id % 10000L) / 100.0d).as("value"),
      lit(null).cast("string").as("props"))
  }

  /** The flow-analytics tier: run the three heavy join/window shapes at
    * each scale, printing the same JSON rows as the doc tier. */
  private def flowTier(spark: SparkSession, meter: StageMeter,
                       scratch: String, scales: Seq[Long]): Unit = {
    def querySet(flows: DataFrame): Seq[(String, () => DataFrame)] = Seq(
      "q_host_daily_profile" -> (() => HostDailyProfile(flows)),
      // the biflow self-join the registered query runs (AQE
      // skew-splittable at scale)
      "q_pattern_finder" -> (() =>
        PatternFinder.classify(
          PatternFinder.biflows(
            graft.SparkEntry.withBiflowEcho(flows), 500L),
          graft.SparkEntry.patterns, graft.SparkEntry.binThresholds)),
      "q_dns_external_resolvers" -> (() =>
        DnsExternalResolvers(flows, toleranceMs = 1800000L)))

    def materialize(n: Long): DataFrame = {
      val dir = s"$scratch/events_$n"
      // Write ts in the driver's CURRENT testdata encoding (timestamp[us]
      // NTZ since round 10) and read back through Tables.events →
      // FlowSynth.flows, so the smoke times the real ingestion path —
      // including the dtype normalization — not a privately convenient
      // long column the production read never sees.
      eventsSynth(spark, n)
        .withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      FlowSynth.flows(spark, dir)
    }

    if (warmPolicy != "off") // JIT/codegen warmup, untimed
      warmPass(spark, "20000", filterSet(querySet(materialize(20000L))))
    scales.foreach { n =>
      val flows = materialize(n)
      // warm THIS decade's plan shapes before timing (see warmPolicy)
      if (warmPolicy == "decade")
        warmPass(spark, n.toString, filterSet(querySet(flows)))
      val cells = filterSet(querySet(flows)).map { case (name, mk) =>
        timedCell(meter, name, n, mk)
      }
      println(s"""{"n_events":$n,"queries":${cells.mkString("{", ",", "}")}}""")
    }
  }

  /** One timed query cell: wall seconds, output rows, shuffle-write MB,
    * memory/disk spill MB, the longest task and summed GC, all over the
    * stages of the cell's own job group. Spill fields read 0.0 on an
    * ample heap and must be NONZERO-not-OOM under the constrained-heap
    * memory-pressure smoke; the longest task is the hot-partition
    * straggler signal (a skewed plan can keep total shuffle linear while
    * one task serializes the whole stage); gc_sec records the heap debt
    * a cell inherits, because executor time (and so wall) INCLUDES GC
    * stalls (measured r16: q_edit_distance_capped at 5M swung 89 → 264 s
    * between runs with IDENTICAL shuffle bytes). */
  private def timedCell(meter: StageMeter, name: String, n: Long,
                        mk: () => DataFrame): String = {
    // GC OUTSIDE the timed window (same isolation Bench.scala uses):
    // after a per-decade warm pass over the 5M tier the old gen is full
    // of the warm pass's garbage, and the collector's catch-up pause
    // otherwise lands INSIDE some later cell as a fake ~80 s straggler
    // task (measured r16: q_url_dedup — 29 rows, 0.1 MB shuffle — timed
    // 85 s with one 78.8 s "task", and the two adjacent cells carried
    // the same ~78.8 s max task; with the pre-cell GC all three cells
    // return to their linear walls). The pause this System.gc() pays is
    // real work the JVM owes either way — the point is to charge it to
    // the protocol, not to whichever query the collector preempts. The
    // pause gives ContextCleaner's async thread a beat to reclaim what
    // the GC freed (Bench's isolation protocol).
    System.gc()
    Thread.sleep(200)
    val run = meter.measure(name) {
      try mk().count()
      catch { case e: Throwable =>
        System.err.println(s"[scale] $name@$n FAILED: $e"); -1L }
    }
    val st = run.stages
    val sec = run.wallMs / 1e3
    val mb = st.map(_.shuffleBytes).sum / 1e6
    val sm = st.map(_.memSpill).sum / 1e6
    val sd = st.map(_.diskSpill).sum / 1e6
    val mt = st.map(_.maxTaskMs).maxOption.getOrElse(0L)
    val gs = st.map(_.jvmGcMs).sum / 1e3
    f"""\"$name\":{\"sec\":$sec%.2f,\"rows\":${run.value},\"shuffle_mb\":$mb%.1f,\"mem_spill_mb\":$sm%.1f,\"disk_spill_mb\":$sd%.1f,\"max_task_ms\":$mt%d,\"gc_sec\":$gs%.1f}"""
  }

  /** The one bucketed-layout recipe (32 doc_id buckets, sorted) shared
    * by the docs_bucketize row and q_hybrid_dedup_bucketed's standalone
    * fallback — ONE definition, so a bucket-count/sort change can never
    * make the standalone row measure a differently-bucketed table than
    * the docs_bucketize row claims to have built. */
  private def bucketize(docs: DataFrame, n: Long, scratch: String): DataFrame = {
    val t = s"docs_bucketed_$n"
    val ss = docs.sparkSession
    ss.sql(s"DROP TABLE IF EXISTS $t")
    docs.write.mode("overwrite").option("path", s"$scratch/$t")
      .bucketBy(32, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(t)
    ss.table(t)
  }

  /** The doc-tier smoke queries at their MEASURED configurations — the
    * single registry [[main]], [[ShuffleBreakdown]] and [[RetryProbe]]
    * all draw from, so a cap retune here is automatically the config
    * every attribution/probe tool measures (no silent drift between a
    * smoke row and the breakdown explaining it). `scratch` hosts the
    * persisted-index/bucketed-table side artifacts. */
  private[tools] def docQueries(docs: DataFrame, emb: DataFrame, n: Long,
      scratch: String): Seq[(String, () => DataFrame)] = {
      // SPARK_GRAFT_SMOKE_NLIST pins nlist across scales — the √N default
      // is the documented sizing, but the FIXED-nlist runs are what prove
      // the N^1.5 coarse-assign term collapses to linear once nlist stops
      // growing (the production posture at a chosen target scale)
      val nlist = sys.env.get("SPARK_GRAFT_SMOKE_NLIST").map(_.toInt)
        .getOrElse(math.max(10, math.sqrt(n * 2 / 5).toInt))
      Seq(
        "q_doc_near_dup" -> (() =>
          TextPipeline.nearDupJaccard(docs, n = 2, minJaccard = 0.1,
            maxDf = 200L)),
        "q_minhash_candidates" -> (() =>
          TextPipeline.minhashCandidates(docs, maxBucket = 200L)),
        "q_simhash_candidates" -> (() =>
          TextPipeline.simhashCandidates(docs, maxBucket = 200L)),
        // opt-in only (see optIn above): the lossless tiled path, for
        // deliberate runs like the constrained-heap spill smoke
        "q_simhash_candidates_tiled" -> (() =>
          TextPipeline.simhashCandidates(docs, tileTarget = 500L)),
        // Deliberately NOT in the default set: the recall-lossless tiled
        // path (simhashCandidates(tileTarget=500), no cap). Measured once
        // at 50k/48g: 800 s, 14.8 GB shuffle, 25.6 M confirmed pairs —
        // correct, but this synthetic corpus has ONE band bucket holding
        // all 50k docs, so the lossless path owes d²/2 ≈ 1.25 B raw
        // candidates; tiling parallelizes that ocean (vs one 602 s
        // serialized reducer) without shrinking it. Quadratic-in-corpus
        // work is a data property, not a plan defect — cap degenerate
        // buckets (2.5 s above) unless every pair is genuinely needed.
        "q_dedup_cluster" -> (() => Curation.clusterComponents(docs)),
        "q_curate" -> (() =>
          Curation.curate(docs,
            docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 5000),
            ratesPpm = Map("src0" -> 0L, "src1" -> 250000L, "src2" -> 500000L))),
        "q_embed_ann_ivfpq" -> (() =>
          Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 10),
            nlist = nlist, nprobe = 3, m = 4, ksub = 16, k = 10)),
        // build-once / search-many split: the encode pass is the
        // N-proportional part; search over the persisted index should
        // stay near-flat as the corpus grows (codes scan + broadcasts)
        "ivfpq_index_build" -> (() => {
          IvfPqIndex.build(emb, nlist = nlist, m = 4, ksub = 16)
            .save(s"$scratch/ivfpq_idx_$n")
          emb.sparkSession.read.parquet(s"$scratch/ivfpq_idx_$n/codes")
        }),
        "ivfpq_index_search" -> (() =>
          IvfPqIndex.load(emb.sparkSession, s"$scratch/ivfpq_idx_$n")
            .search(emb.filter(col("vec_id") < 10), nprobe = 3, k = 10)),
        // incremental add: encode cost is batch-proportional (1/10 of the
        // corpus here), plus one cheap scan of the stored codes
        "ivfpq_index_append" -> (() =>
          IvfPqIndex.load(emb.sparkSession, s"$scratch/ivfpq_idx_$n")
            .append(emb.filter(col("vec_id") % 10 === 0)).codes),
        // span dedup: corpus-linear explode, 8-byte hash shuffle keys
        "q_dup_spans" -> (() => TextPipeline.dupSpans(docs)),
        // two-increment span ingest against a fresh append-only store:
        // per-increment cost must track the increment, not the history
        "span_ingest_2x" -> (() => {
          val sdir = s"$scratch/span_store_$n"
          val p = new org.apache.hadoop.fs.Path(sdir)
          val fs = p.getFileSystem(
            docs.sparkSession.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          IncrementalDedup
            .ingestSpans(sdir, docs.filter(col("doc_id") % 2 === 0))
            .union(IncrementalDedup
              .ingestSpans(sdir, docs.filter(col("doc_id") % 2 === 1)))
        }),
        // the filter references text_clean so count() cannot eliminate
        // the outer join and skip the reassembly work being measured
        "q_remove_dup_spans" -> (() => TextPipeline.removeDupSpans(docs)
          .filter(length(col("text_clean")) >= 0)),
        // unigram LM scoring against a FIXED reference corpus (a trusted
        // LM corpus doesn't grow with the training corpus)
        "q_unigram_nll" -> (() =>
          Curation.unigramNll(docs, docs.filter(col("doc_id") < 2000))),
        // contamination against a fixed eval set (see the note above)
        "q_contamination" -> (() =>
          Curation.contamination(docs,
            docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 5000),
            n = 3)),
        // contiguous ids: boundary-sample + bucket ranks + offset passes
        "q_assign_ids" -> (() =>
          graft.scale.Ids.assign(docs.select("doc_id", "source"),
            Seq("doc_id"))),
        // sequence packing: corpus-wide prefix sum + output-linear explode
        "q_pack_spans" -> (() => Curation.packSpans(docs, seqLen = 256)),
        // SemDeDup: nlist grows √N so mean cluster size grows √N too —
        // the absolute cap keeps a degenerate cluster from owing d² pairs
        "q_semdedup" -> (() =>
          Similarity.semDedup(emb, nlist = nlist, minCosine = 0.4,
            maxCluster = 200L)),
        // r11 hybrid: semantic clusters gate, n-gram Jaccard confirms —
        // same absolute cluster cap as the q_semdedup row
        "q_hybrid_dedup" -> (() =>
          Similarity.hybridDedup(docs, emb, nlist = nlist, n = 2,
            minJaccard = 0.3, maxCluster = 200L)),
        // opt-in pair: the measured form of the r15 hybrid attribution's
        // closing claim ("at real scale the gate join's text movement is
        // avoided by bucketing the docs table on doc_id"). The bucketize
        // row is the one-time storage cost (a full text write, bucketed
        //+sorted on doc_id — at 100 TB this is the ingest layout, not a
        // per-query cost); the bucketed hybrid row then runs the SAME
        // query as q_hybrid_dedup over the bucketed table, and its
        // shuffle_mb must drop by the docs-side text pass (126 MB at
        // 500k) because the gate join's scan side is pre-partitioned —
        // only the (doc_id, cid) frame crosses the wire.
        "docs_bucketize" -> (() => bucketize(docs, n, scratch)),
        // runnable standalone (SPARK_GRAFT_SMOKE_QUERIES selection, or via
        // RetryProbe/ShuffleBreakdown drawing from this registry): if the
        // sibling docs_bucketize entry hasn't run in this session, build
        // the bucketed table here — the bucketize cost then shows up in
        // THIS row's wall (noted in the smoke table when selected alone)
        // instead of a missing-table error
        "q_hybrid_dedup_bucketed" -> (() => {
          val t = s"docs_bucketed_$n"
          val ss = docs.sparkSession
          if (!ss.catalog.tableExists(t)) {
            System.err.println(s"[smoke] q_hybrid_dedup_bucketed: table $t " +
              "absent (docs_bucketize not run this session) — building it " +
              "now; this row's wall includes the one-time bucketize cost")
            bucketize(docs, n, scratch)
          }
          Similarity.hybridDedup(
            ss.table(t), emb,
            nlist = nlist, n = 2, minJaccard = 0.3, maxCluster = 200L)
        }),
        // r13 single-pass source overlap: one gram shuffle; totals +
        // pair counts from the same explode (cells frame = #sources²)
        "q_source_overlap" -> (() => Curation.sourceOverlap(docs, n = 3)),
        // r11 Lloyd k-means: iters × (assign scan + (cid,dim) hash agg);
        // only k·d centroid metadata crosses to the driver per round
        "q_kmeans" -> (() => Similarity.kmeansLloyd(emb, k = 32, iters = 2)),
        // r12 CDC chunk store: native boundary scan inside the scan
        // stage; shuffle = the (digest, id, off, len) inventory only
        "q_media_cdc" -> (() =>
          graft.multimodal.Multimodal.cdcDedup(
            graft.multimodal.Multimodal.mediaTable(docs))),
        // r14 iterative fits: each iteration is one corpus scan whose
        // shuffle carries only d×k (power PCA) / d+1 (logistic) partial
        // sums — wall must track N, shuffle stays iteration-count-bound
        // r14 URL tier: map-only synth+canon projection, then one
        // canonical-key agg (dedup) — wall must track N, shuffle carries
        // (url_canon, count) pairs only
        "q_url_dedup" -> (() =>
          graft.pipeline.UrlCuration.urlDedup(
            graft.pipeline.UrlCuration.synthUrls(docs.select("doc_id")))),
        // r14 fuzzy tier: candidates from the absolute-df-capped shingle
        // index (the skew posture every candidate row uses), one
        // levenshtein confirm per candidate — wall tracks candidates,
        // not d²
        "q_edit_distance_pairs" -> (() =>
          TextPipeline.editDistancePairs(docs, maxDist = 10, n = 2,
            maxDf = 50L)),
        // r15: the TIGHT-capped production twins next to the stress rows
        // above (maxBucket 200 / maxDf 50 barely bind on this corpus, so
        // those rows measure data-dependent pair densification; these
        // caps bind, so wall AND shuffle must stay ~linear — the 100 TB
        // configuration's linearity on the record, VERDICT r14 #2)
        "q_minhash_candidates_capped" -> (() =>
          TextPipeline.minhashCandidates(docs, maxBucket = 20L)),
        "q_simhash_candidates_capped" -> (() =>
          TextPipeline.simhashCandidates(docs, maxBucket = 20L)),
        // r15: the 94-bit wide-signature tier — the configuration that
        // REPLACES 47-bit simhash at the decade where its band space
        // saturates (measured: capped 47-bit candidates FELL 9.6k→2.5k
        // at 500k→5M as every bucket blew the cap). Same cap, wide
        // bands: candidate counts must GROW with the corpus again.
        "q_simhash_candidates_wide" -> (() =>
          TextPipeline.simhashCandidatesWide(docs, maxHamming = 3,
            maxBucket = 20L)),
        "q_edit_distance_capped" -> (() =>
          TextPipeline.editDistancePairs(docs, maxDist = 10, n = 2,
            maxDf = 10L)),
        // r15 eval tier: rank work must ride the distributed prefix sum
        // (one row per distinct score through the shuffle), so wall
        // tracks the tally aggregate — N-linear, no single-task rank
        "q_quality_auc" -> (() =>
          graft.pipeline.Projection.aucEval(emb.select(
            (aggregate(col("embedding"), lit(0.0d), (a, x) => a + x) /
              size(col("embedding"))).as("score"),
            (col("label") % 2).as("label")))),
        "pca_power_fit" -> (() =>
          graft.pipeline.Projection.pcaProjectPower(emb, k = 4, iters = 4)),
        "lr_fit" -> (() => {
          val p = graft.pipeline.Projection
          p.logisticScore(emb, p.trainLogistic(
            emb.select(col("embedding"), (col("label") % 2).as("label")),
            iters = 4, step = 2.0).toIndexedSeq)
        }))
    }

  /** Adversarial-skew tier (`ScaleSmoke dedupskew [nDocs,...]`, default
    * 500000): run the dedup family on a BENIGN corpus and on its skewed
    * twin where one mega near-duplicate class holds 10% of all documents
    * ([[DocSynth.documentsSkewed]] — the boilerplate-class incident no
    * uniform synthetic corpus produces), emitting one JSON row per
    * (corpus, scale). The claim under test: wall, shuffle AND
    * max_task_ms stay ≤ ~linear vs the benign twin — the capped
    * candidate tiers drop the mega buckets (bounded, loudly, by
    * design), cluster dedup's star edges keep the 50k-member family at
    * 50k edges instead of 1.25 B, and connected components converges
    * with no hot-partition straggler. */
  private def skewTier(spark: SparkSession, meter: StageMeter,
                       scratch: String, scales: Seq[Long]): Unit = {
    val family = Seq(
      "q_minhash_candidates_capped", "q_simhash_candidates_capped",
      "q_simhash_candidates_wide", "q_edit_distance_capped",
      "q_dedup_cluster", "q_hybrid_dedup", "q_dup_spans")
    def run(tag: String, docs: DataFrame, emb: DataFrame, n: Long): Unit = {
      val all = docQueries(docs, emb, n, scratch).toMap
      val qs = filterSet(family.map(f => f -> all(f)))
      if (warmPolicy == "decade") warmPass(spark, s"$tag-$n", qs)
      val cells = qs.map { case (name, mk) =>
        spark.catalog.clearCache()
        timedCell(meter, name, n, mk)
      }
      println(s"""{"corpus":"$tag","n_docs":$n,"queries":${
        cells.mkString("{", ",", "}")}}""")
    }
    scales.foreach { n =>
      val benignDir = s"$scratch/docs_$n"
      val skewDir = s"$scratch/docs_skew_$n"
      val embDir = s"$scratch/emb_$n"
      DocSynth.documents(spark, n).write.mode("overwrite").parquet(benignDir)
      DocSynth.documentsSkewed(spark, n).write.mode("overwrite").parquet(skewDir)
      DocSynth.embeddings(spark, n * 2 / 5).write.mode("overwrite").parquet(embDir)
      val emb = spark.read.parquet(embDir)
      run("benign", spark.read.parquet(benignDir), emb, n)
      run("skew", spark.read.parquet(skewDir), emb, n)
      // the wall/shuffle parity above is only meaningful if CC actually
      // PROCESSED the mega family (an edge stream that silently dropped
      // it would also time flat) — prove it: the skew corpus's largest
      // component must hold ~the whole 10% boilerplate class
      val topComponent = Curation
        .clusterComponents(spark.read.parquet(skewDir))
        .groupBy("component").count()
        .agg(max("count")).first().getLong(0)
      println(s"""{"corpus":"skew","n_docs":$n,"max_component":$topComponent}""")
    }
  }

  /** Embedding-tier adversarial-skew smoke (`ScaleSmoke embskew
    * [nVecs,...]`, default 1000000): the ANN/semantic family on benign
    * embeddings vs the skewed twin where 10% of all vectors collapse
    * into ONE degenerate cluster ([[DocSynth.embeddingsSkewed]] — one
    * inverted list, one LSH band bucket, one semantic cluster; the
    * mega-cluster case the dedup family's smoke proved three decades of
    * but the embedding tier never saw). The claim under test: wall,
    * shuffle AND max_task_ms stay ≤ ~linear vs the benign twin — the
    * maxCluster-capped semantic paths exempt the degenerate cluster
    * (members kept; the CapSaturation guard stays silent by design —
    * one bucket over cap is not band-space saturation), the maxBucket
    * LSH path drops its band buckets,
    * and the probe-limited ADC searches scan the fat inverted list at
    * most once per probing query. A `mega_cluster` row proves the skew
    * corpus really holds the ~10% class (a silently-dropped cluster
    * would also time flat). */
  private def embSkewTier(spark: SparkSession, meter: StageMeter,
                          scratch: String, scales: Seq[Long]): Unit = {
    import graft.core.DocSynth
    def queries(emb: DataFrame, docs: DataFrame, n: Long, tag: String)
        : Seq[(String, () => DataFrame)] = {
      val nlist = sys.env.get("SPARK_GRAFT_SMOKE_NLIST").map(_.toInt)
        .getOrElse(math.max(10, math.sqrt(n.toDouble).toInt))
      // cap sized RELATIVE to the expected benign cluster: at √N nlist
      // the mean cluster is √N members, so an absolute dedup-smoke-style
      // cap (200) would censor the BENIGN corpus (measured: 47-52% of
      // clusters over cap at 100k before anything adversarial happens).
      // 10× the mean barely binds benign clusters while the 0.1·N mega
      // cluster stays two orders over it — exempted by design (below
      // the CapSaturation systemic-censoring threshold, deliberately).
      val maxCluster = 10L * math.max(1L, n / nlist)
      val queriesDf = emb.filter(col("vec_id") < 10)
      Seq(
        // probe-limited ADC search, monolithic and persisted-index forms
        "q_embed_ann_ivfpq" -> (() =>
          Similarity.annIvfPq(emb, queriesDf,
            nlist = nlist, nprobe = 3, m = 4, ksub = 16, k = 10)),
        "ivfpq_index_build" -> (() => {
          IvfPqIndex.build(emb, nlist = nlist, m = 4, ksub = 16)
            .save(s"$scratch/ivfpq_eskew_${tag}_$n")
          emb.sparkSession.read.parquet(s"$scratch/ivfpq_eskew_${tag}_$n/codes")
        }),
        "ivfpq_index_search" -> (() =>
          IvfPqIndex.load(emb.sparkSession, s"$scratch/ivfpq_eskew_${tag}_$n")
            .search(queriesDf, nprobe = 3, k = 10)),
        // semantic dedup, capped production posture: the degenerate
        // cluster is exempted (members all kept) — never d² pairs
        "q_semdedup" -> (() =>
          Similarity.semDedup(emb, nlist = nlist, minCosine = 0.4,
            maxCluster = maxCluster)),
        // banded sign-LSH dedup, capped: benign ~100-member clusters
        // fragment across the 16-bit band space (expected bucket ≈ a
        // few dozen), so the ABSOLUTE cap barely binds benignly while
        // the 0.001-noise mega cluster — identical sign bits on every
        // plane — lands in one bucket per band and is dropped (capped
        // skew trimming, not saturation — the guard watches the latter)
        "q_embed_lsh_capped" -> (() =>
          Similarity.dedupByCosineCapped(emb, planes = 64, bands = 4,
            minCosine = 0.9, maxBucket = 2000L)),
        // hybrid: semantic gate over the skewed embeddings, lexical
        // confirm over the SAME benign docs both times — the moving
        // part is the embedding-side cluster shape
        "q_hybrid_dedup" -> (() =>
          Similarity.hybridDedup(docs, emb, nlist = nlist, n = 2,
            minJaccard = 0.3, maxCluster = maxCluster)))
    }
    scales.foreach { n =>
      val benignDir = s"$scratch/emb_benign_$n"
      val skewDir = s"$scratch/emb_skew_$n"
      val docDir = s"$scratch/docs_embskew_$n"
      // ~100-member benign clusters (nLabels = N/100): the default
      // 10-cluster synth is itself degenerate at this tier's scales —
      // 10k-member clusters are 5·10⁷ GENUINE 0.9-cosine pairs per
      // cluster, so every recall-honest path owes quadratic work on the
      // BENIGN corpus and the parity cell measures the data, not the
      // guard. Realistic semantic sharding (many small clusters) keeps
      // benign ≤ ~linear; the mega cluster stays the only degeneracy.
      val labels = math.max(10, (n / 100).toInt)
      DocSynth.embeddings(spark, n, nLabels = labels)
        .write.mode("overwrite").parquet(benignDir)
      DocSynth.embeddingsSkewed(spark, n, nLabels = labels)
        .write.mode("overwrite").parquet(skewDir)
      // docs sized at the testdata ratio (5 docs / 2 vectors), for the
      // hybrid row's lexical side; vec_id joins doc_id by identity there
      DocSynth.documents(spark, n * 5 / 2).write.mode("overwrite").parquet(docDir)
      val docs = spark.read.parquet(docDir)
      Seq("benign" -> benignDir, "skew" -> skewDir).foreach { case (tag, d) =>
        val emb = spark.read.parquet(d)
        val qs = filterSet(queries(emb, docs, n, tag))
        if (warmPolicy == "decade") warmPass(spark, s"$tag-$n", qs)
        val cells = qs.map { case (name, mk) =>
          spark.catalog.clearCache()
          timedCell(meter, name, n, mk)
        }
        println(s"""{"corpus":"$tag","n_vecs":$n,"queries":${
          cells.mkString("{", ",", "}")}}""")
      }
      // parity is only meaningful if the skew corpus really carries the
      // mega cluster: count members by cosine against the cluster
      // direction (vec 0 of the mega class is a member by construction
      // only probabilistically — use the analytic direction instead via
      // a fresh synth row at a fixed id hash... simpler: nearest-centroid
      // assignment over the saved skew index must hold a ~10% list)
      val idx = IvfPqIndex.load(spark, s"$scratch/ivfpq_eskew_skew_$n")
      val maxList = idx.codes.groupBy("cid").count()
        .agg(max("count")).first().getLong(0)
      println(s"""{"corpus":"skew","n_vecs":$n,"mega_cluster":$maxList}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val flowMode = args.headOption.contains("flows")
    val skewMode = args.headOption.contains("dedupskew")
    val embSkewMode = args.headOption.contains("embskew")
    val scaleArg =
      if (flowMode || skewMode || embSkewMode) args.drop(1).headOption
      else args.headOption
    val scales = scaleArg
      .getOrElse(if (flowMode) "100000,1000000"
        else if (skewMode) "500000"
        else if (embSkewMode) "1000000" else "5000,50000")
      .split(",").toSeq.filter(_.nonEmpty).map(_.toLong)
    val spark = toolSession("graft-scalesmoke")
    val meter = StageMeter(spark)
    // SPARK_GRAFT_SMOKE_SCRATCH isolates concurrent smoke runs — two
    // JVMs sharing the default dir overwrite each other's materialized
    // corpora mid-read
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SMOKE_SCRATCH",
      s"/tmp/graft_scale_${System.getProperty("user.name", "u")}")
    if (flowMode) {
      flowTier(spark, meter, scratch, scales)
      spark.stop()
      return
    }
    if (skewMode) {
      skewTier(spark, meter, scratch, scales)
      spark.stop()
      return
    }
    if (embSkewMode) {
      embSkewTier(spark, meter, scratch, scales)
      spark.stop()
      return
    }

    def querySet(docs: DataFrame, emb: DataFrame, n: Long) =
      docQueries(docs, emb, n, scratch)

    def materialize(n: Long): (DataFrame, DataFrame) = {
      // materialize once so query timings measure the operators, not synth
      val docDir = s"$scratch/docs_$n"
      val embDir = s"$scratch/emb_$n"
      DocSynth.documents(spark, n).write.mode("overwrite").parquet(docDir)
      DocSynth.embeddings(spark, n * 2 / 5).write.mode("overwrite").parquet(embDir)
      (spark.read.parquet(docDir), spark.read.parquet(embDir))
    }

    // JIT/codegen warmup: every query shape once, untimed
    if (warmPolicy != "off") {
      val (wd, we) = materialize(2000L)
      warmPass(spark, "2000", filterSet(querySet(wd, we, 2000L)))
    }

    scales.foreach { n =>
      val (docs, emb) = materialize(n)
      // warm THIS decade's plan shapes before timing (see warmPolicy):
      // the committed cells must be warm numbers, never starred-in-prose
      if (warmPolicy == "decade")
        warmPass(spark, n.toString, filterSet(querySet(docs, emb, n)))
      val cells = filterSet(querySet(docs, emb, n)).map { case (name, mk) =>
        spark.catalog.clearCache() // each query pays for its own index
        timedCell(meter, name, n, mk)
      }
      println(s"""{"n_docs":$n,"queries":${cells.mkString("{", ",", "}")}}""")
    }
    spark.stop()
  }
}
