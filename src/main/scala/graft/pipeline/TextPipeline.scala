package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-cleaning operators for large-scale training-data pipelines:
  * dedup, quality scoring, language ID, fingerprinting, near-dup mining.
  *
  * All operators are shuffle-conscious: exact dedup is one hash aggregate;
  * near-dup mining joins on the shingle (inverted-index join) instead of a
  * doc×doc cartesian, so cost scales with shared-shingle pairs, not N².
  */
object TextPipeline {

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this")

  /** Exact dedup: canonical representative = min doc_id per identical text;
    * emits survivors with their duplicate count (one hash-aggregate
    * shuffle). Groups by the full text — exact, but the shuffle carries
    * the documents; see [[dedupExactByHash]] for the at-scale form. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Exact dedup keyed by the md5 digest: the shuffle moves 16-byte keys
    * instead of whole documents — the standard form for a 100 TB corpus
    * (collision probability is negligible at any realistic corpus size,
    * and partial aggregation collapses duplicates map-side). */
  def dedupExactByHash(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** [[dedupExactByHash]] on the dedup-canonical form
    * ([[TextFunctions.normalizeForDedup]]): catches copies that differ
    * only in case, punctuation, or whitespace — the standard first rung
    * of a web-corpus dedup ladder, same 16-byte-key shuffle shape. */
  def dedupExactNormalized(docs: DataFrame): DataFrame =
    docs.groupBy(md5(TextFunctions.normalizeForDedup(col("text"))
        .cast("binary")).as("norm_md5"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Exact duplicate-SPAN inventory (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", restated at k-token
    * span granularity): every (doc, position) whose k-token gram occurs
    * more than once in the corpus — in another document or elsewhere in
    * the same one. Downstream removal can cut or mask exactly these
    * positions instead of dropping whole documents.
    *
    * Ordered (non-distinct) shingles via the codegen'd expression, keyed
    * by their 47-bit polynomial hash so 8-byte keys move through the
    * shuffle instead of k-word strings; the count aggregate combines
    * map-side, and the join back to positions is on the same hash key —
    * the shuffle it needs, nothing more. A 2⁻⁴⁷ hash collision can merge
    * two distinct spans (the same trade Lee et al.'s suffix automaton
    * sidesteps at far higher constant cost; acceptable for span REMOVAL,
    * which only ever drops repeated-looking text). */
  def dupSpans(docs: DataFrame, k: Int = 3): DataFrame =
    dupSpansCached(docs, k).result

  /** [[dupSpans]] with the release handle for the persisted gram frame
    * (read twice: the occurrence count and the join back).
    *
    * NOT pre-partitioned on `h` (r20, measured): although both
    * consumers cluster on `h`, the join-back is frame⋈derived-aggregate
    * of the SAME cached frame, so DeduplicateRelations rewrites one
    * side's attributes and the cached hashpartitioning loses identity —
    * the same failure class as editDistancePairsCached's aliased
    * self-join. Measured at sf0.1/32c on the executed plan:
    * pre-partitioned ran 5→8 exchanges (1.50→1.94 s). */
  def dupSpansCached(docs: DataFrame, k: Int = 3): graft.core.Cached[DataFrame] = {
    val grams = spanGramsOf(docs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dups = grams.groupBy("h").agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
    graft.core.Cached(
      grams.join(dups, Seq("h")).select("doc_id", "pos", "occurrences"),
      grams)
  }

  /** Positional k-gram hashes of every document: (doc_id, pos, h). */
  private[pipeline] def spanGramsOf(docs: DataFrame, k: Int): DataFrame =
    widenDocs(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(graft.expressions.TextExpressions.polyHash47(
          graft.expressions.TextExpressions.wordShingles(col("text"), k)))
          .as(Seq("pos", "h")))

  /** Span-level dedup — the removal half of [[dupSpans]]: for every
    * duplicated k-gram, the occurrence with the smallest (doc_id, pos)
    * stays canonical; token positions covered by any OTHER occurrence
    * are cut, and the surviving token stream is re-joined (lower-cased
    * whitespace-normalized — the training-stream contract, matching
    * `TextFunctions.tokens`). Overlapping spans compose by union of
    * covered positions, so a canonical occurrence can still lose tokens
    * to a different gram's victim — deterministic, order-free semantics.
    *
    * Scale shape: only the (doc_id, position) removal inventory ever
    * shuffles (grams travel as 8-byte hashes); documents themselves stay
    * put and are trimmed by one higher-order filter against their own
    * per-doc removal array. The per-token `array_contains` probe costs
    * O(|rm|) — acceptable because rm holds only DUPLICATED positions,
    * a small fraction of any healthy corpus. */
  def removeDupSpans(docs: DataFrame, k: Int = 3): DataFrame =
    removeDupSpansCached(docs, k).result

  /** [[removeDupSpans]] with the release handle for the persisted gram
    * frame (read by the canonical-occurrence aggregate and the victim
    * join). */
  def removeDupSpansCached(docs: DataFrame,
                           k: Int = 3): graft.core.Cached[DataFrame] = {
    val grams = spanGramsOf(docs, k)
      .withColumn("okey", col("doc_id") * 1048576L + col("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dups = grams.groupBy("h")
      .agg(min("okey").as("firstkey"), count(lit(1)).as("c"))
      .filter(col("c") > 1)
    // no distinct before the aggregate: collect_set dedups (doc_id, tp)
    // itself — map-side in the partial aggregate — so the extra
    // (doc_id, tp)-keyed exchange bought nothing (one full shuffle of
    // the covered-position stream removed; result identical)
    val rm = grams.join(dups, Seq("h"))
      .filter(col("okey") =!= col("firstkey"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .groupBy("doc_id").agg(sort_array(collect_set("tp")).as("rm"))
    graft.core.Cached(
      docs.join(rm, Seq("doc_id"), "left")
        .withColumn("__toks", graft.expressions.TextExpressions.wordShingles(col("text"), 1))
        .withColumn("__rm", coalesce(col("rm"), array().cast("array<int>")))
        .select(col("doc_id"),
          when(size(col("__toks")) === 0, lit("")).otherwise(
            array_join(transform(
              filter(zip_with(col("__toks"),
                sequence(lit(0), size(col("__toks")) - 1),
                (t, i) => struct(t.as("t"), i.as("i"))),
                s => !array_contains(col("__rm"), s.getField("i"))),
              s => s.getField("t")), " ")).as("text_clean"),
          size(col("__rm")).as("n_removed")),
      grams)
  }

  /** Corpus-wide duplicate-LINE removal — the line-granularity exact
    * dedup of RefinedWeb (Penedo et al. 2023) and Dolma: boilerplate
    * lines (navigation, cookie banners, signatures) repeat across
    * millions of pages; only the corpus-FIRST occurrence (by doc_id,
    * then line index) survives, every later copy is cut from its
    * document. Lines shorter than `minChars` are exempt — dedup'ing
    * "Yes." corpus-wide would shred ordinary prose.
    *
    * Scale shape (r20): line TEXT never leaves its document. Lines
    * travel as 8-byte xxhash64 keys — the keeper table is a
    * map-side-combinable min(struct(doc_id, idx)) per KEY (a
    * billion-occurrence banner still collapses to one row per map task
    * and never serializes through a single reducer), pre-filtered to
    * keys seen more than once (a singleton is always its own first);
    * the victim inventory join then moves only (h, doc_id, idx) ints,
    * and each document is rebuilt IN PLACE by re-splitting its own
    * text against its removal-index array (the [[removeDupSpans]]
    * rebuild idiom — re-tokenizing is row-local and beats shuffling
    * the corpus, the same measured trade as repetitionStats). The
    * former shape shipped every line string through TWO exchanges
    * (the line-keyed join back and a per-doc collect_list rebuild).
    * A 2⁻⁶⁴ key collision can merge two distinct lines — the
    * [[dupSpans]] trade (removal only ever drops repeated-looking
    * text), at a 2¹⁷× lower rate than its accepted poly-47 keys.
    * Every input doc keeps its row — a fully-boilerplate document
    * comes back with empty `text_clean`, so the caller decides
    * whether to drop it. */
  def removeDupLines(docs: DataFrame, minChars: Int = 30): DataFrame = {
    val keyed = docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .filter(length(col("line")) >= minChars)
      .select(col("doc_id"), col("idx"), xxhash64(col("line")).as("h"))
    val keepers = keyed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__first"),
        count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("h", "__first")
    val rm = keyed.join(keepers, Seq("h"))
      .filter(!(col("__first").getField("doc_id") === col("doc_id") &&
        col("__first").getField("idx") === col("idx")))
      .groupBy("doc_id").agg(collect_set(col("idx")).as("rm"))
    // null-text docs explode to no lines and have no output row — the
    // pre-reshape contract, preserved explicitly now that the rebuild
    // starts from `docs` instead of the exploded lines
    docs.filter(col("text").isNotNull)
      .join(rm, Seq("doc_id"), "left")
      .withColumn("__lines", split(col("text"), "\n"))
      .withColumn("__rm", coalesce(col("rm"), array().cast("array<int>")))
      .select(col("doc_id"),
        array_join(transform(
          filter(zip_with(col("__lines"),
            sequence(lit(0), size(col("__lines")) - 1),
            (l, i) => struct(l.as("l"), i.as("i"))),
            s => !array_contains(col("__rm"), s.getField("i"))),
          s => s.getField("l")), "\n").as("text_clean"),
        (size(col("__lines")) - size(col("__rm"))).cast("int").as("n_kept"),
        size(col("__rm")).cast("int").as("n_dropped"))
  }

  /** Streaming exact dedup: the first-seen document per md5 digest within
    * the watermark horizon passes; later duplicates are dropped.
    * `dropDuplicatesWithinWatermark` keeps one 16-byte key per distinct
    * in-horizon document in the state store and EVICTS it once the
    * watermark passes — bounded state, no full-corpus shuffle (the
    * streaming face of [[dedupExactByHash]]). Plain `dropDuplicates` on
    * a non-event-time key would keep every digest ever seen: on an
    * unbounded corpus stream the state store itself becomes the scale
    * bug, which is exactly what this operator exists to avoid. A
    * duplicate arriving after its key expired re-emits — "exact dedup
    * within the horizon" is the contract, corpus-lifetime dedup belongs
    * to the batch/incremental tier. Input must carry an `event_time`
    * timestamp column. */
  def dedupStreaming(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.withColumn("text_md5", md5(col("text").cast("binary")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Per-document analysis: token counts, punctuation ratio, stopword
    * ratio, quality score, fingerprint, heuristic language guess.
    * Raw ratios are materialized once (see TextFunctions.tokens). */
  def docStats(docs: DataFrame, stopwords: Seq[String] = defaultStopwords): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        graft.expressions.TextExpressions.wordShingles(col("text"), 1).as("toks"),
        TextFunctions.punctRatio(col("text")).as("punct_raw"))
      .withColumn("stop_raw",
        TextFunctions.stopwordRatioFromTokens(col("toks"), stopwords))
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        round(col("punct_raw"), 6).as("punct_ratio"),
        round(col("stop_raw"), 6).as("stopword_ratio"),
        TextFunctions.qualityFromRaw(length(col("text")), col("punct_raw"), col("stop_raw"))
          .as("quality"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))

  /** Near-duplicate pairs by word-shingle Jaccard ≥ `minJaccard`.
    * Inverted-index join: explode shingles → join on shingle → count
    * shared per pair → Jaccard from per-doc shingle-set sizes. Only pairs
    * that share ≥1 shingle are ever materialized.
    *
    * `maxDf` (document-frequency cap) drops shingles present in more than
    * that many documents before the join. This is the standard skew guard
    * for inverted-index near-dup mining: a shingle with df=d contributes
    * d² join rows, so a handful of stop-shingles otherwise dominates the
    * whole job. Jaccard is then over each doc's *rare*-shingle set — the
    * discriminative part. maxDf <= 0 disables the cap.
    *
    * Exactly ONE copy of the exploded index is persisted — the post-cap
    * `inv` that the per-doc sizes and both self-join sides consume
    * (recomputing the index per consumer dominated runtime before:
    * 43 s → ~2 s at sf0.1). The heavy-shingle list is derived from the
    * UNPERSISTED raw explode: one extra codegen'd scan of the documents,
    * which is far cheaper than double-caching the index — at corpus scale
    * the exploded index is the biggest intermediate in the pipeline. The
    * cap itself is a broadcast LEFT ANTI against the heavy list, which is
    * small by construction (only shingles with df > maxDf).
    *
    * Cache lifetime: the persisted index outlives this (lazy) result —
    * callers looping over many corpora should use [[nearDupJaccardCached]]
    * and release the handle between corpora (same contract as
    * Similarity.annLshBanded). */
  def nearDupJaccard(docs: DataFrame, n: Int, minJaccard: Double,
                     maxDf: Long = 0L, tileTarget: Long = 0L): DataFrame =
    nearDupJaccardCached(docs, n, minJaccard, maxDf, tileTarget).result

  /** [[nearDupJaccard]] with an explicit release handle for the persisted
    * inverted index — `handle.unpersist()` when done with this corpus.
    * `tileTarget` as in [[simhashCandidatesCached]]: shingles kept near
    * the df cap still emit df² pair rows through the single reducer
    * owning the shingle; tiling spreads that recall-losslessly. */
  def nearDupJaccardCached(docs: DataFrame, n: Int, minJaccard: Double,
                           maxDf: Long = 0L,
                           tileTarget: Long = 0L): graft.core.Cached[DataFrame] = {
    // shingling dwarfs the row bytes; an unsplittable one-row-group
    // test file must not serialize it onto one core (no-op on a wide
    // corpus scan -- the same guard sourceOverlap uses)
    val shingled = graft.scale.Skew.ensureMinParallelism(
        docs.select(col("doc_id"), col("text")),
        docs.sparkSession.sparkContext.defaultParallelism,
        Seq(col("doc_id")))
      .select(col("doc_id"),
        graft.expressions.TextExpressions
          .wordShingles(col("text"), n, distinct = true).as("shingles"))
    // 8-byte poly-47 keys instead of shingle strings (the discipline
    // every candidate operator now shares — measured on edit distance:
    // the string-keyed index owed ~2/3 of a 1.6 GB shuffle). The
    // Jaccard here is over the hashed-key space; a collision merges two
    // key identities on BOTH sides (the oracle applies the identical
    // hash), so values stay engine-exact vs the oracle and differ from
    // string-space Jaccard only with ~2^-47 probability per shingle pair.
    val inv0 = shingled
      .select(col("doc_id"),
        explode(graft.expressions.TextExpressions.polyHash47(
          col("shingles"))).as("h"))
    val inv = (
      if (maxDf <= 0) inv0
      else {
        val heavy = inv0.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("h")
        inv0.join(broadcast(heavy), Seq("h"), "left_anti")
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val shared = (
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(inv, "doc_id", "h", tileTarget)
          .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      else inv.as("a").join(inv.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      ).agg(count(lit(1)).as("shared"))
    val result = shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "shared", "jaccard")
    graft.core.Cached(result, inv)
  }

  /** Edit-distance near-duplicate pairs: levenshtein(text_a, text_b) ≤
    * `maxDist` — the character-level fuzzy-match tier (typo'd mirrors,
    * OCR variants, light template edits) that shingle-set Jaccard
    * under-scores and exact hashing misses entirely.
    *
    * Shape at scale: all-pairs levenshtein is O(d²·len²) — never. The
    * candidate stage is the same df-capped inverted-index self-join as
    * [[nearDupJaccard]] (only pairs sharing ≥ 1 RARE shingle are ever
    * materialized), then two RECALL-SAFE prunes run before any text
    * moves:
    *
    *   - count bound: one character edit changes at most one word
    *     boundary region, destroying at most `n + 1` word `n`-shingles,
    *     so a pair at distance ≤ `maxDist` must still share at least
    *     `max(rare_a, rare_b) − maxDist·(n+1)` of its rare shingles
    *     (cap-censoring removes the same shingle identities from both
    *     sides, so the bound survives the df cap);
    *   - length bound: edit distance ≥ |len_a − len_b|.
    *
    * Both filters consume only per-doc ints, so the candidate stream
    * stays 8-byte rows until the survivors — output-sized, not
    * blocking-sized — join the texts for the O(len²) confirm. Without
    * them the text join is candidate-sized and super-linear in corpus
    * growth (measured on the 100× smoke: 10× docs → 53× wall, 3.1 GB of
    * text shuffle; with them the confirm volume tracks true pairs).
    * maxDf ≤ 0 disables the skew cap. NOTE a minimum-shared-count knob
    * deliberately does NOT exist: in duplicate-heavy clusters the shared
    * shingles sit above the df cap, so any fixed floor > 1 silently
    * drops true pairs (measured: 21 → 13 on the test corpus); the count
    * bound above prunes adaptively instead. */
  def editDistancePairs(docs: DataFrame, maxDist: Int, n: Int = 2,
                        maxDf: Long = 50L): DataFrame =
    editDistancePairsCached(docs, maxDist, n, maxDf).result

  /** [[editDistancePairs]] with the release handle for the persisted
    * inverted index (three consumers: the per-doc meta aggregate and
    * both self-join sides) — same cache-lifetime contract as
    * [[nearDupJaccardCached]]. The confirm is always the banded
    * threshold form (`TextExpressions.levenshteinBanded`), which returns
    * the same rows and distances as a thresholded full levenshtein
    * matrix. */
  def editDistancePairsCached(docs: DataFrame, maxDist: Int, n: Int = 2,
                              maxDf: Long = 50L)
      : graft.core.Cached[DataFrame] = {
    require(maxDist >= 0, "maxDist >= 0")
    val base = graft.scale.Skew.ensureMinParallelism(
      docs.select(col("doc_id"), col("text")),
      docs.sparkSession.sparkContext.defaultParallelism, Seq(col("doc_id")))
    // 8-byte poly-47 keys instead of shingle strings (the hybrid/span
    // key discipline): the inverted index is the operator's dominant
    // shuffle — measured at 500k docs, the string-keyed index owed
    // 2×362 MB self-join exchanges + 302 MB for the df count; long keys
    // ~halve those. Collisions between DISTINCT shingles are kept, not
    // papered over, and stay recall-safe end to end: a collision can
    // only MERGE key identities, which inflates `shared`, deflates the
    // per-doc rare counts, and widens the df-cap censor set — each of
    // which only ADMITS more candidates through the bound, and the
    // levenshtein confirm is exact. The DuckDB oracle applies the
    // identical hash, so results stay value-identical by construction.
    val inv0 = base.select(col("doc_id"), length(col("text")).as("len"),
      explode(graft.expressions.TextExpressions.polyHash47(
        graft.expressions.TextExpressions
          .wordShingles(col("text"), n, distinct = true))).as("h"))
    // NOT pre-repartitioned by h: the self-join re-aliases one side's
    // attributes, so a cached hashpartitioning(h) satisfies neither
    // side's clustering requirement after aliasing — measured at 500k,
    // an explicit repartition(h) just added a third full-index exchange
    // (245 MB) on top of the two per-side ones
    val inv = (
      if (maxDf <= 0) inv0
      else {
        val heavy = inv0.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("h")
        inv0.join(broadcast(heavy), Seq("h"), "left_anti")
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-doc rare-shingle count, the int the post-aggregate count
    // bound reads (one row per doc — broadcast-sized relative to the
    // index; the length bound reads `len` straight off the inv rows)
    val meta = inv.groupBy("doc_id")
      .agg(count(lit(1)).as("rare"))
    // the LENGTH bound rides the index self-join itself: `len` is
    // already a column of both inv sides, so |len_a − len_b| ≤ maxDist
    // prunes candidate rows BEFORE the pair-keyed groupBy shuffle
    // instead of after it (guide §2.3 — the prune consumes ints already
    // in hand; at pair volume the groupBy is this stage's dominant
    // exchange). Pair-exact equivalence: every row of a given pair
    // carries the same (len_a, len_b), so the pair either fully
    // survives or fully drops, and `__shared` for survivors is
    // untouched — the same pairs reach the levenshtein confirm. The
    // count bound still runs post-aggregate (it needs `__shared`).
    val cand = inv.as("a").join(inv.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("__shared"))
      .join(meta.select(col("doc_id").as("doc_a"), col("rare").as("__ra")),
        Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("rare").as("__rb")),
        Seq("doc_b"))
      .filter(col("__shared") >=
        greatest(col("__ra"), col("__rb")) - maxDist * (n + 1))
      .select("doc_a", "doc_b")
    val t = docs.select(col("doc_id"), col("text"))
    val result = cand
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("__ta")),
        Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("__tb")),
        Seq("doc_b"))
      // threshold form: banded O(len·maxDist) DP with early exit instead
      // of the full O(len²) matrix (returns -1 past the bound — same
      // kept rows, same distances, so the unbounded-levenshtein DuckDB
      // oracle still matches value-for-value). The confirm is this
      // operator's dominant CPU at scale — measured at 5M docs the
      // unbounded form burned ~4,500 executor-seconds on 565k candidate
      // pairs (~8 ms/pair on ~2 KB texts); the band is ~len/maxDist×
      // less work per pair. r17: the band runs as the native
      // byte-array loop (TextExpressions.levenshteinBanded — Spark's
      // own threshold form costs ~150-300 ns/band-cell on long ASCII
      // texts; the native loop measured 24× cheaper per 18 KB pair,
      // value-identical by contract and spec). At ~18 KB texts the band
      // measured 5.8× cheaper per pair than the full matrix, and the
      // confirm was immaterial end to end (COVERAGE.md "Task 6").
      .withColumn("dist",
        graft.expressions.TextExpressions.levenshteinBanded(
          col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
    graft.core.Cached(result, inv)
  }

  /** MinHash signatures: k portable hash functions (a_i·h + b_i mod p) over
    * the polynomial shingle hash; band into `bands` buckets for LSH
    * candidate generation. Candidate pairs share ≥1 (band, band-hash). */
  def minhashLsh(docs: DataFrame, n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val shingled = widenDocs(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.expressions.TextExpressions
          .wordShingles(col("text"), n, distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
    // native tight-loop expressions: 47-bit polynomial hash per shingle,
    // then k affine-permutation minima in one pass (values identical to
    // the Column-composite fold — spec-asserted and oracle-checked)
    val sig = shingled
      .withColumn("hashes",
        graft.expressions.TextExpressions.polyHash47(col("shingles")))
      .withColumn("signature",
        graft.expressions.TextExpressions.minhashSig(col("hashes"), k))
    // band → bucket key; Scala-side band loop so `signature` is referenced
    // a constant number of times per row, never inside a per-element lambda.
    // Key = poly-31 fold of the band's signature values seeded with the
    // band index, in the SAME 47-bit modulus as the shingle hash — an
    // 8-byte long instead of the band-values string (the key table is
    // this operator's dominant shuffle: 4 full passes at the 500k decade,
    // each ~3× smaller keyed by longs, and the self-join compares/sorts
    // longs). Portable arithmetic (acc < 2^47, acc·31 + c < 2^53 — no
    // Long overflow), and the DuckDB oracle applies the IDENTICAL fold,
    // so candidate pairs stay oracle-checkable; a fold collision between
    // different band values can only ADD a candidate pair, the usual LSH
    // false-positive class.
    val bandKeys = array((0 until bands).map(b =>
      aggregate(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand),
        lit(b.toLong),
        (acc, c) => (acc * lit(31L) + c) % lit(140737488355213L))): _*)
    sig.select(col("doc_id"), col("signature"), posexplode(bandKeys))
      .withColumnRenamed("col", "bucket")
      .select("doc_id", "signature", "bucket")
  }

  /** LSH near-dup candidates: pairs sharing a band bucket, deduplicated.
    * Buckets are persisted — both self-join sides read them, and the
    * minhash signature computation is the expensive part. Multi-corpus
    * drivers: use [[minhashCandidatesCached]] and release the handle.
    *
    * `maxBucket` is the bucket-size skew guard (the [[nearDupJaccard]]
    * maxDf analogue at the bucket level): a bucket holding d documents
    * contributes d² candidate pairs, so one hot bucket — boilerplate or
    * template documents whose band signatures all agree — turns the
    * self-join quadratic. Buckets larger than the cap are dropped before
    * the join (their members are mutual near-dup candidates many times
    * over in OTHER bands, so recall loss is confined to pairs that agree
    * ONLY on an over-cap band — at the cap sizes that matter, boilerplate
    * clusters, not genuine near-dups). The 10×-scale smoke that motivated
    * the guard saw candidate pairs grow 100× for 10× documents without
    * it (ScaleSmoke). maxBucket <= 0 disables. */
  def minhashCandidates(docs: DataFrame, n: Int = 3, k: Int = 16,
                        bands: Int = 4, maxBucket: Long = 0L,
                        tileTarget: Long = 0L): DataFrame =
    minhashCandidatesCached(docs, n, k, bands, maxBucket, tileTarget).result

  /** [[minhashCandidates]] with an explicit release handle for the
    * persisted bucket frame. `tileTarget` as in
    * [[simhashCandidatesCached]]: recall-lossless tiled pair generation
    * for hot buckets that must be kept. */
  def minhashCandidatesCached(docs: DataFrame, n: Int = 3, k: Int = 16,
                              bands: Int = 4,
                              maxBucket: Long = 0L,
                              tileTarget: Long = 0L): graft.core.Cached[DataFrame] = {
    val raw = minhashLsh(docs, n, k, bands).select("doc_id", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hot-bucket list from the PERSISTED frame (one cheap cached scan);
    // small by construction — only buckets above the cap
    val buckets = capBuckets(raw, maxBucket)
    val pairs =
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(buckets, "doc_id", "bucket", tileTarget)
          .select(col("a").as("doc_a"), col("b").as("doc_b"))
      else buckets.as("a").join(buckets.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    graft.core.Cached(pairs.distinct(), raw)
  }

  /** Connectivity-equivalent LINEAR edge generation over the minhash
    * bucket-co-membership graph, for CLUSTERING consumers
    * ([[graft.pipeline.Curation.clusterComponents]]): per band bucket,
    * connect every member to the bucket's min-id hub instead of emitting
    * all C(d,2) pairs. Two documents share a component under star edges
    * iff they do under all-pairs edges (same-bucket ⇒ both reach the
    * hub; star edges exist only within buckets), so connected components
    * are IDENTICAL — but a d-member bucket now costs d-1 edges, not d².
    * This is what makes cluster dedup survive a mega duplicate class
    * (one boilerplate family at 1–10% of a web corpus): the classic
    * incident shape where all-pairs candidate generation owes 10⁹ edges
    * from a single family. NOT a candidate generator — pair consumers
    * that confirm per-pair similarity (Jaccard, Hamming) still need the
    * real pairs. One groupBy + one co-partitioned join, both on the
    * 8-byte bucket key; edge count ≤ docs × bands. */
  def minhashBucketStarEdges(docs: DataFrame, n: Int = 3, k: Int = 16,
                             bands: Int = 4): DataFrame = {
    // Not persisted, and the keys subtree is planned TWICE: the hub side
    // is partially aggregated (partial_min) below its
    // hashpartitioning(bucket) exchange, while the probe side's exchange
    // (or, when the hubs broadcast, no exchange at all) sits directly on
    // the keys. The two subtrees differ below every exchange, so
    // ReuseExchange never matches them and the shingling + signature
    // fold runs once per side — the executed plan of curate's CC
    // checkpoint shows two minhash_sig subtrees. An earlier 500k-doc
    // measurement (55.7 MB shuffled unpersisted, 106.4 MB for a
    // persisted variant) was credited to a reuse that does not happen,
    // so re-measure it before choosing between the two.
    val keys = minhashLsh(docs, n, k, bands).select("doc_id", "bucket")
    val hubs = keys.groupBy("bucket").agg(min("doc_id").as("hub"))
    keys.join(hubs, Seq("bucket"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Scan-parallelism guard shared by the heavy per-row derivations
    * (shingling, signature folds, positional gram hashes): the work per
    * document dwarfs its bytes, and an unsplittable one-row-group test
    * file would serialize it onto one core. Hash-repartition on doc_id
    * when the input plans fewer partitions than cores; no-op on a wide
    * corpus scan ([[graft.scale.Skew.ensureMinParallelism]]). */
  private def widenDocs(docs: DataFrame): DataFrame =
    graft.scale.Skew.ensureMinParallelism(docs,
      docs.sparkSession.sparkContext.defaultParallelism,
      Seq(col("doc_id")))

  /** Drop entries of buckets holding more than `maxBucket` members —
    * broadcast LEFT ANTI against the (small) hot-bucket list. The shared
    * skew guard of the LSH candidate generators; no-op when cap <= 0.
    * The hot-list aggregation carries the bucket-saturation observation
    * ([[graft.scale.CapSaturation]]): when more than the configured
    * fraction of buckets blow past the cap — the measured 47-bit
    * band-space-saturation recall collapse — a loud warning fires on the
    * job that already runs, instead of the query silently succeeding
    * with censored coverage. */
  private[pipeline] def capBuckets(buckets: DataFrame, maxBucket: Long,
                                   bucketCol: String = "bucket"): DataFrame =
    if (maxBucket <= 0L) buckets
    else {
      val stats = graft.scale.CapSaturation.observed(
        buckets.groupBy(bucketCol).agg(count(lit(1)).as("bsize")),
        maxBucket, bucketCol)
      val hot = stats.filter(col("bsize") > maxBucket).select(bucketCol)
      buckets.join(broadcast(hot), Seq(bucketCol), "left_anti")
    }

  /** SimHash per document over whitespace tokens (47 planes). Tokens,
    * their hashes AND the vote fold all run as native tight-loop
    * expressions inside the scan ([[graft.expressions.SimhashFold]] —
    * byte-identical to the Column composite, spec-pinned). */
  def simhash(docs: DataFrame): DataFrame =
    widenDocs(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.expressions.TextExpressions
        .wordShingles(col("text"), 1, distinct = false).as("toks"))
      .withColumn("hashes", graft.expressions.TextExpressions.polyHash47(col("toks")))
      .select(col("doc_id"),
        // native vote fold (byte-identical to the Column composite,
        // spec-pinned) — the composite pays 47 interpreted
        // lambda CASEs per token in the signature scan
        graft.expressions.TextExpressions.simhashFold(col("hashes")).as("simhash"))

  /** SimHash near-dup candidate pairs: split the 47-bit signature into
    * `bands` bit-bands and pair documents agreeing on at least one band,
    * then keep pairs within true Hamming distance `maxHamming`.
    * Pigeonhole guarantee: hamming < bands ⇒ some band is untouched ⇒ the
    * pair IS a candidate, so recall is total for distance ≤ bands - 1.
    * Same inverted-bucket shape as minhash LSH — cost scales with
    * same-bucket pairs, never N²; the final Hamming check is one
    * codegen'd bit_count(xor) on 8-byte keys.
    *
    * Cache lifetime: the signature frame is persisted (bucket explode +
    * two pair-side joins read it) and stays cached for the session —
    * multi-corpus drivers should use [[simhashCandidatesCached]] and
    * release the handle between corpora.
    *
    * `maxBucket` drops band buckets larger than the cap before the
    * self-join — the skew guard for hot buckets (see [[minhashCandidates]];
    * same 100×-pairs-at-10×-docs failure mode, same recall caveat: only
    * pairs agreeing solely on an over-cap band are lost, and with it the
    * pigeonhole guarantee for members of over-cap buckets). <= 0 off. */
  def simhashCandidates(docs: DataFrame, bands: Int = 4,
                        maxHamming: Int = 3, maxBucket: Long = 0L,
                        tileTarget: Long = 0L): DataFrame =
    simhashCandidatesCached(docs, bands, maxHamming, maxBucket, tileTarget)
      .result

  /** Bit-band keys over a 47-bit simhash signature (band index + the
    * band's bit value — collision-free, portable). Shared by the batch
    * candidate generator and the incremental ingest so their buckets are
    * identical by construction. */
  private[graft] def simhashBandKeys(sim: org.apache.spark.sql.Column,
                                        bands: Int): org.apache.spark.sql.Column = {
    require(bands >= 1 && bands <= 47, "bands must be in [1, 47]")
    val width = 47 / bands
    array((0 until bands).map { b =>
      val lo = b * width
      val len = if (b == bands - 1) 47 - lo else width
      concat_ws("_", lit(b),
        shiftrightunsigned(sim, lo)
          .bitwiseAND(lit((1L << len) - 1)).cast("string"))
    }: _*)
  }

  /** [[simhashCandidates]] with an explicit release handle for the
    * persisted signature frame.
    *
    * `tileTarget > 0` generates the same-bucket pairs via
    * [[graft.scale.Skew.tiledPairs]] — recall-LOSSLESS parallelism for
    * hot buckets that must be kept: a bucket of d docs owes d² pairs,
    * and without tiling every one of them is produced by the single
    * reducer owning the bucket key (AQE redistributes input skew, not a
    * join's output explosion; measured: one 9 s task on 32 idle cores
    * at sf0.1). Prefer `maxBucket` when dropping degenerate buckets is
    * acceptable — that skips the d² work entirely. */
  def simhashCandidatesCached(docs: DataFrame, bands: Int = 4,
                              maxHamming: Int = 3,
                              maxBucket: Long = 0L,
                              tileTarget: Long = 0L): graft.core.Cached[DataFrame] = {
    val sigs = simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandKeys = simhashBandKeys(col("simhash"), bands)
    // the 8-byte signature RIDES the band explode, so the Hamming
    // confirm runs INSIDE the bucket self-join — the former shape
    // re-attached it per PAIR with two pair-keyed joins after the
    // distinct, and at pair volumes (d² per bucket vs d per bucket
    // here) those two shuffles dominated the query (the same
    // bucket-local reshape the r19 LSH-cosine fix applied; measured on
    // this operator at sf0.1: 2 pair-side exchanges of ~4M rows gone,
    // 5.0 s → 2.6 s median). Filtering before the distinct also shrinks
    // the dedup shuffle to confirmed pairs only. Hamming is a function
    // of the pair, so filter→distinct ≡ distinct→filter.
    val buckets = capBuckets(
      sigs.select(col("doc_id"), col("simhash"), explode(bandKeys).as("bucket")),
      maxBucket)
    val confirmed =
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(buckets, "doc_id", "bucket", tileTarget,
            carry = Seq("simhash"))
          .select(col("a").as("doc_a"), col("b").as("doc_b"),
            bit_count(col("a_simhash").bitwiseXOR(col("b_simhash")))
              .cast("int").as("hamming"))
      else buckets.as("a").join(buckets.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("int").as("hamming"))
    val result = confirmed
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("doc_a", "doc_b", "hamming")
    graft.core.Cached(result, sigs)
  }

  /** 94-bit wide SimHash — (doc_id, simhash, simhash2), the base 47-bit
    * vote fold plus a second fold over an affine remap of the SAME token
    * hashes ([[graft.expressions.TextExpressions.polyRemap47]], a
    * distinct member of the affine universal family over the prime
    * field — no second pass over the token strings).
    *
    * Why a wider signature exists at all: the 47-bit/4-band key space
    * caps at 2^11–2^14 values per band, so bucket population grows
    * LINEARLY with the corpus and past ~10^6 docs every bucket exceeds
    * any sane absolute cap — the 5M-doc smoke measured the capped
    * 47-bit tier censoring nearly everything (candidates FELL 9.6k→2.5k
    * for 10× docs, a silent recall collapse, not a perf problem). Wide
    * bands carry 23–24 bits (8.4M–16.8M values), restoring cap headroom
    * to ~10^8–10^9 docs — the at-scale configuration. */
  def simhashWide(docs: DataFrame): DataFrame = {
    val te = graft.expressions.TextExpressions
    widenDocs(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        te.polyHash47(te.wordShingles(col("text"), 1, distinct = false))
          .as("hashes"))
      .select(col("doc_id"),
        te.simhashFold(col("hashes")).as("simhash"),
        te.simhashFold(te.polyRemap47(col("hashes"))).as("simhash2"))
  }

  /** Band keys over the 94-bit wide signature as collision-free 8-byte
    * longs: band 0/1 = low 23 / high 24 bits of `simhash`, band 2/3 the
    * same split of `simhash2`, each offset by `band · 2^25` (values are
    * < 2^24, so the offset makes keys injective across bands). Shared by
    * the batch generator and any future incremental ingest. */
  private[graft] def simhashWideBandKeys(s1: org.apache.spark.sql.Column,
                                         s2: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val m23 = lit((1L << 23) - 1)
    def band(b: Int, v: org.apache.spark.sql.Column) =
      lit(b.toLong * (1L << 25)) + v
    array(
      band(0, s1.bitwiseAND(m23)),
      band(1, shiftrightunsigned(s1, 23)),
      band(2, s2.bitwiseAND(m23)),
      band(3, shiftrightunsigned(s2, 23)))
  }

  /** [[simhashCandidates]] over the 94-bit wide signature — same
    * inverted-bucket shape, hamming measured over all 94 planes
    * (`bit_count(s1⊕s1') + bit_count(s2⊕s2')`), same pigeonhole
    * guarantee (hamming ≤ 3 over 94 bits ⇒ one of the 4 bands is
    * untouched ⇒ the pair IS a candidate). Use this, not the 47-bit
    * tier, once the corpus approaches the 47-bit band space (~10^6 docs
    * with any useful cap — see [[simhashWide]] for the measured
    * collapse); note 3-of-94 is a strictly TIGHTER similarity than
    * 3-of-47, which is the point at that scale. */
  def simhashCandidatesWide(docs: DataFrame, maxHamming: Int = 3,
                            maxBucket: Long = 0L,
                            tileTarget: Long = 0L): DataFrame = {
    val sigs = simhashWide(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both 8-byte signature halves ride the band explode and the
    // Hamming confirm runs inside the bucket self-join — same
    // bucket-local reshape as [[simhashCandidatesCached]]: the two
    // pair-keyed signature joins the former shape paid after the
    // distinct are gone, and the distinct dedups confirmed pairs only
    val buckets = capBuckets(
      sigs.select(col("doc_id"), col("simhash"), col("simhash2"),
        explode(simhashWideBandKeys(col("simhash"), col("simhash2")))
          .as("bucket")), maxBucket)
    def hamming94(s1a: org.apache.spark.sql.Column, s2a: org.apache.spark.sql.Column,
                  s1b: org.apache.spark.sql.Column, s2b: org.apache.spark.sql.Column) =
      (bit_count(s1a.bitwiseXOR(s1b)) + bit_count(s2a.bitwiseXOR(s2b))).cast("int")
    val confirmed =
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(buckets, "doc_id", "bucket", tileTarget,
            carry = Seq("simhash", "simhash2"))
          .select(col("a").as("doc_a"), col("b").as("doc_b"),
            hamming94(col("a_simhash"), col("a_simhash2"),
              col("b_simhash"), col("b_simhash2")).as("hamming"))
      else buckets.as("a").join(buckets.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          hamming94(col("a.simhash"), col("a.simhash2"),
            col("b.simhash"), col("b.simhash2")).as("hamming"))
    confirmed
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("doc_a", "doc_b", "hamming")
  }

  /** Corpus vocabulary: top-`topK` tokens by frequency (ties broken by
    * token, so the cut is deterministic). One explode + hash aggregate
    * with map-side partial counts; the top-k is a TakeOrderedAndProject
    * (per-partition heads, no corpus-wide sort) — the exact form of the
    * token-frequency table tokenizer training starts from. For unbounded
    * vocabularies at 100 TB, Spark's `approx_top_k` aggregate keeps a
    * bounded frequent-items sketch instead of the exact counts. */
  def vocab(docs: DataFrame, topK: Int = 100): DataFrame =
    docs.select(explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(topK)

  /** Corpus n-gram frequency table with a count floor — the [[vocab]]
    * generalization an n-gram LM (or the KenLM-style filtering stage of
    * one) trains from. `minCount` prunes the long tail AT THE AGGREGATE
    * (the standard count-of-counts cliff: singleton n-grams dominate the
    * table but carry no LM mass), so the full unpruned table never
    * materializes beyond the partial-aggregate buffers. One explode of
    * the codegen'd shingles + one map-side-combinable hash aggregate. */
  def ngramCounts(docs: DataFrame, n: Int = 2, minCount: Long = 2L): DataFrame =
    docs.select(explode(graft.expressions.TextExpressions
        .wordShingles(col("text"), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** TF-IDF keyword extraction: the top-`k` tokens per document ranked by
    * `tf · ln(N / df)` — the classic relevance weighting a curation
    * pipeline uses for topic tagging and per-document keyword features.
    *
    * Shape at scale: one explode + (doc, token) hash aggregate (map-side
    * partial), a token-keyed shuffle join against the document-frequency
    * table (both sides token-partitioned — no broadcast needed, the vocab
    * can be unbounded), and a per-doc window whose rank<=k cut Spark 4
    * plans as WindowGroupLimit partial top-k. The corpus size joins in as
    * a broadcast 1-row aggregate, not a driver-side count — the whole
    * plan stays lazy. Ranking uses the ROUNDED weight (6 dp) with a token
    * tiebreak, so the cut is deterministic and engine-portable.
    * `minDf` drops hapax noise before the join when > 1. */
  def tfidfKeywords(docs: DataFrame, k: Int = 5, minDf: Long = 1L): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("token").asc)))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "tfidf", "rank")
  }

  /** BPE merge-candidate statistics: corpus-wide counts of adjacent
    * character pairs within tokens — the scan each BPE training
    * iteration runs over the corpus. The per-element lambda only touches
    * `w`, an already-materialized attribute (cheap re-read), not a
    * recomputed expression — the HOF re-evaluation trap doesn't bite. */
  def bpePairCounts(docs: DataFrame, topK: Int = 100): DataFrame = {
    val pairs = when(length(col("w")) < 2, array())
      .otherwise(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2))))
    docs.select(explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("w"))
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(topK)
  }

  /** BPE merge training (Sennrich et al. 2016, public algorithm): learn
    * `numMerges` merges by repeatedly taking the corpus-wide most frequent
    * adjacent symbol pair. Runs on the WORD-FREQUENCY table, not the raw
    * corpus — the classic compression that makes BPE training tractable:
    * one corpus scan builds (word, count), and every round after that
    * touches only the vocabulary (|V| rows, millions at worst at 100 TB —
    * a per-round job of seconds, not a corpus pass).
    *
    * Each round re-symbolizes words from scratch with the native
    * [[graft.expressions.BpeEncode]] under the merges learned so far —
    * O(len·merges) per word, but the plan stays ONE expression deep
    * instead of an iteration-deep lineage chain, so analysis cost and
    * checkpoint pressure stay constant. Pairs whose count is below
    * `minPairCount` are never merged (merging noise pairs hurts
    * downstream tokenization); training stops when none is left.
    *
    * `batchSize` merges are adopted per Spark job — the standard
    * batched-BPE trick, which makes a 30k-merge vocab ~30k/batch jobs
    * instead of 30k. Per round ONE pair-count job runs over the word
    * table; the top `4·k` (count desc, pair asc) rows come back
    * (metadata-sized), and a greedy in-order sweep adopts up to `k` pairs
    * whose symbols are MUTUALLY DISJOINT — disjointness guarantees the
    * adopted merges cannot interact, so applying them together is
    * order-independent. The approximation vs one-at-a-time BPE: a pair
    * CREATED by an earlier merge in the same batch (e.g. "x ab" right
    * after "a b") cannot be adopted until the next round. The default
    * `batchSize = 1` is exactly the sequential algorithm (the argmax per
    * round, spec-pinned against [[graft.RefBpe.train]]); any batch
    * matches the independent in-memory [[graft.RefBpe.trainBatched]]
    * (oracle-checked via q_bpe_train_batched). The 4·k candidate
    * truncation is part of the algorithm contract (both implementations
    * apply it), keeping the driver exchange bounded.
    *
    * Returns merges in learned order with their counts at merge time. */
  def bpeTrain(docs: DataFrame, numMerges: Int, batchSize: Int = 1,
               minPairCount: Long = 2L): Seq[(String, Long)] = {
    require(batchSize >= 1, "bpeTrain: batchSize must be >= 1")
    val words = docs
      .select(explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var go = true
    while (go && merges.length < numMerges) {
      val k = math.min(batchSize, numMerges - merges.length)
      val pairCol = transform(sequence(lit(1), size(col("syms")) - 1),
        i => concat_ws(" ", element_at(col("syms"), i),
          element_at(col("syms"), i + 1)))
      val top = words
        .withColumn("syms", graft.expressions.TextExpressions
          .bpeEncode(col("word"), merges.map(_._1).toSeq))
        .filter(size(col("syms")) > 1)
        .select(col("cnt"), explode(pairCol).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("pcnt"))
        .filter(col("pcnt") >= minPairCount)
        .orderBy(col("pcnt").desc, col("pair").asc).limit(4 * k)
        .collect()
      if (top.isEmpty) go = false
      else {
        val used = scala.collection.mutable.Set.empty[String]
        var taken = 0
        top.iterator.takeWhile(_ => taken < k).foreach { r =>
          val pair = r.getString(0)
          val syms = pair.split(" ")
          if (!syms.exists(used)) {
            merges += ((pair, r.getLong(1)))
            used ++= syms
            taken += 1
          }
        }
      }
    }
    words.unpersist()
    merges.toSeq
  }

  /** [[bpeTrain]] as a (rank, pair, cnt) table — the artifact a tokenizer
    * build persists. */
  def bpeMerges(docs: DataFrame, numMerges: Int,
                minPairCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, numMerges, minPairCount = minPairCount).zipWithIndex
      .map { case ((pair, cnt), i) => (i, pair, cnt) }
      .toDF("rank", "pair", "cnt")
  }

  /** Corpus text normalization — the pass every scraped corpus runs
    * BEFORE byte-level dedup/fingerprinting: Unicode normalization
    * (NFC default — composed and decomposed spellings of the same text
    * are the canonical silent-duplicate source; NFKC additionally folds
    * full-width/ligature compatibility variants), C0 control strip
    * (except \t and \n; \t then folds into the whitespace collapse) and
    * horizontal-whitespace collapse + trim.
    *
    * Composition discipline: the ONLY native piece is the normalizer
    * ([[graft.expressions.UnicodeNormalize]] — Spark has no built-in),
    * everything else is Catalyst `regexp_replace`/`trim`, so the whole
    * pass is one narrow codegen projection fused into the scan — no
    * shuffle, no UDF. `changed` flags the rows the pass touched, so an
    * incremental pipeline re-hashes only those. Oracle twin: DuckDB
    * `nfc_normalize` + the same RE2 classes (q_text_normalize). */
  def normalizeText(docs: DataFrame, form: String = "NFC"): DataFrame = {
    val norm = normalizeTextCol(col("text"), form)
    docs.select(col("doc_id"), norm.as("text_norm"),
      (norm =!= col("text")).as("changed"))
  }

  /** The normalization Column itself — ONE definition shared by
    * [[normalizeText]] and CurateApp's `--normalize` pass, so the CLI
    * and the oracle-checked operator can never silently diverge on the
    * control-class or collapse rules. */
  def normalizeTextCol(text: Column, form: String = "NFC"): Column =
    trim(regexp_replace(regexp_replace(
      graft.expressions.TextExpressions.unicodeNormalize(text, form),
      "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  /** Heuristic language ID over the text column (tokens materialized). */
  def langId(docs: DataFrame, profiles: Map[String, Seq[String]]): DataFrame =
    docs
      .select(col("doc_id"), graft.expressions.TextExpressions.wordShingles(col("text"), 1).as("toks"))
      .select(col("doc_id"),
        TextFunctions.langIdFromTokens(col("toks"), profiles).as("lang_guess"))

  /** BM25 document ranking (Robertson & Zaragoza 2009, the Okapi
    * formulation with the "plus-one" idf `ln(1 + (N - df + 0.5)/(df +
    * 0.5))` so scores are always non-negative) against a small query-term
    * set — the retrieval scorer a curation pipeline uses for targeted
    * corpus slicing ("pull the documents most about X").
    *
    * Shape at scale: ONE tokenize pass; per-doc length comes from
    * `size(toks)` in that same projection, and only tokens matching the
    * (tiny, literal) query-term set are exploded — the fanout is bounded
    * by matched occurrences, not corpus tokens. Per-(doc, term) tf is a
    * map-side-combinable hash aggregate; the df table is |queryTerms|
    * rows and broadcast; N and avgdl ride one 1-row broadcast aggregate.
    * No window function anywhere except the final top-k cut, which Spark
    * plans as WindowGroupLimit (partial top-k per partition). Scores are
    * rounded to 6 dp with a doc_id tiebreak so the cut is deterministic
    * and engine-portable. */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    val toks = docs.select(col("doc_id"), graft.expressions.TextExpressions.wordShingles(col("text"), 1).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = toks
      .select(col("doc_id"), col("dl"),
        explode(filter(col("toks"),
          t => t.isin(queryTerms.map(lit): _*))).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("contrib"), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
    // top-k FIRST (TakeOrderedAndProject — partial top-k per partition,
    // no global window over the full corpus), then rank the k survivors
    scored.orderBy(col("bm25").desc, col("doc_id").asc).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select("doc_id", "bm25", "n_terms", "rank")
  }

  /** Winnowing fingerprints (Schleimer, Wilkes & Aiken 2003, SIGMOD —
    * the MOSS algorithm) at word-k-gram granularity: hash every k-gram,
    * slide a window of `w` consecutive hashes, and in each window select
    * the minimum hash, rightmost occurrence on ties. Guarantee: any
    * shared token run of length ≥ w + k - 1 between two documents shares
    * at least one fingerprint, at an expected density of 2/(w+1) of the
    * grams — the standard local, position-aware document fingerprint for
    * plagiarism/overlap detection. Returns (doc_id, pos, fp), one row per
    * selected gram.
    *
    * The rightmost-min tie rule is encoded arithmetically so the SQL
    * oracle computes it with a plain `min` window: `combined = hash · 2¹⁶
    * + (2¹⁶ - 1 - pos)` is strictly decreasing in pos for equal hashes,
    * so `min(combined)` over the trailing w-gram window IS (min hash,
    * rightmost pos). The 47-bit hash · 2¹⁶ fits in 63 bits; the encoding
    * requires per-doc positions < 65 536 — chunk longer documents first
    * ([[graft.pipeline.Curation.chunk]]), which a 100 TB pipeline does
    * anyway. Violations fail loudly, never silently corrupt.
    *
    * The whole tokenize→shingle→hash→window-min chain runs in the native
    * codegen'd [[graft.expressions.WinnowFp]] expression INSIDE the scan
    * stage — zero shuffle (a doc-partitioned explode+window form would
    * shuffle the full gram stream; 41 MB at 50k docs, corpus-linear).
    * The encoding is decoded with integer ops — a double divide would
    * lose bits above 2^53. */
  def winnowFingerprintsNative(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val posCap = 1 << 16
    widenDocs(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(graft.expressions.TextExpressions
          .winnowFp(col("text"), k, w)).as("sel"))
      .select(col("doc_id"),
        (lit(posCap - 1) - (col("sel") % posCap)).cast("int").as("pos"),
        shiftrightunsigned(col("sel"), 16).as("fp"))
  }

  /** Document-overlap candidates from shared winnowing fingerprints:
    * pairs of documents sharing at least `minShared` distinct fingerprint
    * hashes — the MOSS-style plagiarism/boilerplate candidate generator.
    * Inverted-index join on the fingerprint hash (cost scales with
    * same-hash pairs, never N²), with the shared hot-bucket cap
    * ([[capBuckets]]) as the skew guard: a fingerprint appearing in d
    * documents contributes d² pairs, and the highest-df fingerprints are
    * boilerplate by definition — dropping them loses only pairs whose
    * ENTIRE overlap is boilerplate. `maxDocs <= 0` disables. */
  def winnowCandidates(docs: DataFrame, k: Int = 5, w: Int = 4,
                       minShared: Long = 2L, maxDocs: Long = 0L): DataFrame = {
    val fp = winnowFingerprintsNative(docs, k, w)
      .select("doc_id", "fp").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capBuckets(fp, maxDocs, bucketCol = "fp")
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
  }
}
