package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}
import graft.functions.TextFunctions

/** Training-data curation operators beyond cleaning: benchmark
  * decontamination, repetition (Gopher-style) metrics, PII redaction,
  * token chunking, cluster dedup, deterministic source mixing.
  *
  * Shuffle discipline matches TextPipeline: eval sets and heavy lists are
  * broadcast, per-document metrics are row-local where the document
  * alone decides them (repetition, benchmark overlap) and explode →
  * hash-aggregate (map-side partial) where a corpus-side table is
  * joined, and the only iterative operator (connected components) cuts
  * lineage per step and converges in diameter iterations over the
  * candidate graph — tiny relative to the corpus.
  */
object Curation {

  // ----- decontamination -------------------------------------------------

  /** Documents sharing ≥1 word n-gram with the benchmark set, with the
    * overlap count: how many of the document's distinct n-grams are in
    * the benchmark's distinct n-gram set. Eval sets are MBs against a
    * 100 TB corpus, so the benchmark side is collected to the driver
    * once (one scan job, no shuffle) and rides a broadcast inside the
    * native [[graft.expressions.ShingleOverlap]]; the corpus side is
    * row-local — no shingle explode, join, aggregate or exchange. The
    * set must fit in driver and executor memory, the bound the forced
    * broadcast join this replaced had too. Like every curation stage,
    * it treats a row as one document: `doc_id` unique and non-null. */
  def contamination(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), benchmarkOverlap(benchmark, n).as("overlap_ngrams"))
      .filter(col("overlap_ngrams") > 0L)

  /** [[contamination]]'s per-document overlap count as a row-local column
    * over `text` (0 for null text). Collects the benchmark's shingle set
    * now, on the calling thread. */
  private def benchmarkOverlap(benchmark: DataFrame, n: Int): org.apache.spark.sql.Column = {
    val set = new java.util.HashSet[String]
    benchmark.select(explode(graft.expressions.TextExpressions
        .wordShingles(col("text"), n, distinct = true)))
      .collect().foreach(r => set.add(r.getString(0)))
    val shared = benchmark.sparkSession.sparkContext.broadcast(set)
    coalesce(graft.expressions.TextExpressions.shingleOverlap(col("text"), n, shared),
      lit(0L))
  }

  /** Per-document n-gram novelty against a reference corpus — the
    * data-selection signal ("how much of this document is new
    * material?") that complements [[contamination]]'s overlap count:
    * the fraction of the doc's DISTINCT word n-grams absent from the
    * reference's distinct n-gram set. High novelty ≈ fresh content
    * worth keeping; near-zero ≈ boilerplate the reference already
    * covers. Same shuffle posture as contamination: the reference side
    * is broadcast (eval/reference sets are MBs against a 100 TB
    * corpus), the corpus side is one explode + one hash aggregate.
    * Documents shorter than n tokens have no n-grams and no row. */
  def novelty(docs: DataFrame, reference: DataFrame, n: Int): DataFrame = {
    val docShingles = docs.select(col("doc_id"),
      explode(graft.expressions.TextExpressions
        .wordShingles(col("text"), n, distinct = true)).as("shingle"))
    val refShingles = reference.select(
      explode(graft.expressions.TextExpressions
        .wordShingles(col("text"), n, distinct = true)).as("shingle"))
      .distinct()
    docShingles
      .join(broadcast(refShingles.withColumn("__seen", lit(1))),
        Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_grams"), 6))
  }

  /** Decontaminated corpus: drop documents whose benchmark n-gram overlap
    * exceeds `maxOverlap` (0 = any overlap removes). A row-local filter
    * on [[contamination]]'s overlap column — no anti-join, so the
    * decision never waits on a corpus-wide exchange. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int,
                    maxOverlap: Long = 0L): DataFrame = {
    require(maxOverlap >= 0L, s"maxOverlap $maxOverlap is negative")
    docs.filter(benchmarkOverlap(benchmark, n) <= maxOverlap)
  }

  // ----- repetition metrics (Gopher rules 4-8 analogue) ------------------

  /** Per-document repetition signals (the word-level analogue of Gopher's
    * repetition filters): duplicate-word fraction, duplicate-2-gram
    * fraction, and the fraction held by the single most frequent 2-gram.
    *
    * MAP-ONLY (r20): every output is a per-document function of that
    * document's token stream, so the stats are computed ROW-LOCALLY
    * with array expressions — the repeat fractions via the native
    * one-pass `dup_fraction`, the top-2-gram count via a run-length fold over
    * the SORTED 2-gram array (sorting groups equal grams adjacently;
    * only run lengths are read, so the sort order itself is
    * irrelevant). The previous form exploded grams into a corpus-wide
    * (doc_id, gram) STRING shuffle through two hash aggregates and a
    * join-back — at corpus scale the engine's largest single exchange
    * (gram bytes ≈ corpus bytes), bought nothing: no cross-document
    * state exists in these stats. Values are pinned equal to the
    * aggregate form and the oracle (counts are the same integers, the
    * fractions the same rounded doubles); gram-less and null-text
    * documents keep their zeros via the empty-array coalesce, exactly
    * as the old left join did. Per-row cost is O(L log L) in doc
    * tokens — the same row-local class as tokenization itself. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val g = coalesce(
      graft.expressions.TextExpressions.wordShingles(col("text"), 2), emptyGrams)
    // longest run of equal adjacent elements in the sorted array = the
    // max per-gram multiplicity (the old max(c)). The fold state is
    // (current run, best run, previous gram); x === null is false-ish
    // for the first element, starting run at 1.
    def topCount(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = aggregate(
      array_sort(arr),
      struct(lit(0L).as("run"), lit(0L).as("best"),
        lit(null).cast(StringType).as("prev")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(1L)
        struct(run.as("run"),
          greatest(acc.getField("best"), run).as("best"), x.as("prev"))
      },
      acc => acc.getField("best"))
    // two-level select so the 2-gram array materializes once per row
    // (CollapseProject keeps the split: the alias is referenced more
    // than once and is not cheap)
    docs.select(col("doc_id"), dupWordFrac(col("text")).as("dup_word_frac"),
        g.as("__g"))
      .select(
        col("doc_id"),
        col("dup_word_frac"),
        dupFrac(col("__g")).as("dup_2gram_frac"),
        frac(topCount(col("__g")), size(col("__g"))).as("top_2gram_frac"))
  }

  /** [[repetitionStats]]'s `dup_word_frac` as a row-local column over
    * `text` — the one definition the stats and [[curate]]'s repetition
    * filter share. */
  private def dupWordFrac(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dupFrac(coalesce(
      graft.expressions.TextExpressions.wordShingles(text, 1), emptyGrams))

  private val emptyGrams = array().cast(ArrayType(StringType))

  private def frac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
    round(when(den > 0, num.cast(DoubleType) / den).otherwise(0.0), 6)

  /** Fraction of a gram array's entries that repeat an earlier entry,
    * rounded like [[frac]]; reads the array once. */
  private def dupFrac(grams: org.apache.spark.sql.Column) =
    round(graft.expressions.TextExpressions.dupFraction(grams), 6)

  // ----- PII redaction ---------------------------------------------------

  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val longDigitPattern = "[0-9]{6,}"

  /** Sequential PII scrub — emails, then IPv4 literals, then long digit
    * runs — with per-stage match counts (each counted on the text state
    * entering that stage, so an address inside an already-redacted email
    * is not double-counted). Pure codegen'd regexp work, no UDF; patterns
    * are RE2-compatible (no lookaround) so external engines can reproduce
    * the result byte-for-byte. */
  def redact(docs: DataFrame): DataFrame = {
    val t0 = col("text")
    val t1 = regexp_replace(t0, emailPattern, "[EMAIL]")
    val t2 = regexp_replace(t1, ipv4Pattern, "[IP]")
    val t3 = regexp_replace(t2, longDigitPattern, "[NUM]")
    docs.select(
      col("doc_id"),
      regexp_count(t0, lit(emailPattern)).as("n_emails"),
      regexp_count(t1, lit(ipv4Pattern)).as("n_ips"),
      regexp_count(t2, lit(longDigitPattern)).as("n_nums"),
      t3.as("text_redacted"))
  }

  // ----- token chunking --------------------------------------------------

  /** Fixed-size training windows: split each document's token stream into
    * `chunkSize`-token chunks every `stride` tokens (stride < chunkSize
    * overlaps). One explode, output-linear — n_chunks ≈ n_tokens/stride,
    * so cost scales with the emitted training set, not with doc count ×
    * max length. Short final windows are kept (padding is the trainer's
    * concern); empty documents produce no chunks. */
  def chunk(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    val toks = docs
      .select(col("doc_id"), graft.expressions.TextExpressions.wordShingles(col("text"), 1).as("toks"))
      .filter(size(col("toks")) > 0)
    // integer chunk count: 1 + ceil(max(n - chunkSize, 0) / stride)
    val extra = greatest(size(col("toks")) - chunkSize, lit(0))
    val nChunks = ((extra + (stride - 1)) / lit(stride)).cast(IntegerType) + 1
    toks
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(
        col("doc_id"),
        col("pos").as("chunk_id"),
        size(slice(col("toks"), col("pos") * stride + 1, lit(chunkSize)))
          .as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("pos") * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  // ----- sequence packing ------------------------------------------------

  /** Concat-and-cut sequence packing — the training-data step AFTER
    * [[chunk]]-style per-document windows stop being enough: the whole
    * corpus is (conceptually) concatenated in `doc_id` order and cut
    * into fixed `seqLen`-token training sequences, so short documents
    * pack together and long ones straddle — zero padding waste.
    *
    * The global token offset of every document is a corpus-wide EXCLUSIVE
    * prefix sum — the canonical single-partition-window trap, computed
    * here distributedly by [[graft.scale.Ids.prefixSum]] (data-
    * deterministic range buckets + per-bucket running sums + driver
    * offsets; metadata-sized driver state). Output: one row per document
    * with `n_toks`, its global `tok_start`, and the first/last sequence
    * ids it touches (an empty document sits at its boundary, touching
    * exactly the sequence it would have started).
    *
    * Token counting matches [[graft.functions.TextFunctions.tokens]]
    * (lowercase, split on whitespace, drop empties) so the result is
    * engine-portable and oracle-checked (q_pack_sequences). */
  def packSequences(docs: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, "packSequences needs a positive seqLen")
    val counted = docs.select(col("doc_id"),
      size(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).cast("long").as("n_toks"))
    graft.scale.Ids.prefixSum(counted, Seq("doc_id"), col("n_toks"),
        "tok_start")
      .withColumn("seq_first", expr(s"tok_start div $seqLen"))
      .withColumn("seq_last",
        expr(s"(tok_start + greatest(n_toks, 1L) - 1L) div $seqLen"))
  }

  /** Loader-facing face of [[packSequences]]: one row per
    * (sequence, document) pair with the half-open token slice
    * [take_from, take_from + take_len) of the document that lands in
    * that sequence. Empty documents are dropped (they contribute no
    * tokens to any sequence). The explode is output-linear — a document
    * touching k sequences emits k rows, and Σ take_len over a sequence
    * is exactly `seqLen` (except the corpus tail), which the spec pins. */
  def packSpans(docs: DataFrame, seqLen: Int): DataFrame =
    packSequences(docs, seqLen)
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"), col("tok_start"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(
        col("seq_id"),
        col("doc_id"),
        greatest(col("seq_id") * seqLen - col("tok_start"), lit(0L))
          .as("take_from"),
        (least((col("seq_id") + 1) * seqLen, col("tok_start") + col("n_toks"))
          - greatest(col("seq_id") * seqLen, col("tok_start"))).as("take_len"))

  /** Token-balanced shard manifest: every document gets
    * `shard = ⌊tok_start · nShards / total⌋` — contiguous `doc_id`
    * ranges whose token counts differ by at most one document, the
    * assignment step before writing a corpus as N equal-weight training
    * shards (shard files that finish together instead of one straggler
    * holding the epoch). A document straddling a boundary goes whole to
    * its floor shard — shards are document-atomic by construction.
    *
    * One corpus scan: the offsets come from the same
    * [[graft.scale.Ids.prefixSumWithTotal]] pass as [[packSequences]],
    * and the grand total is driver metadata from that pass — a separate
    * `agg(sum)` would re-tokenize everything. (`tok_start · nShards`
    * stays far inside Long: 100 TB ≈ 2.5e13 tokens × even 10⁴ shards
    * ≈ 2.5e17 < 2⁶³.) Oracle-checked (q_shard_tokens) against the
    * running-sum window + cross-joined total in SQL. */
  def shardByTokens(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, "shardByTokens needs a positive shard count")
    val counted = docs.select(col("doc_id"),
      size(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).cast("long").as("n_toks"))
    val (offs, total) = graft.scale.Ids.prefixSumWithTotal(
      counted, Seq("doc_id"), col("n_toks"), "tok_start")
    offs.withColumn("shard",
      least(expr(s"tok_start * $nShards div ${math.max(total, 1L)}L"),
        lit(nShards - 1L)).cast("int"))
  }

  /** Export-integrity manifest over [[shardByTokens]]'s assignment:
    * per shard, document count, token total, and an ORDER-INDEPENDENT
    * content checksum — `bit_xor` of the portable poly-47 hash of
    * `"doc_id:text"` — so a consumer can re-derive the manifest from
    * the delivered shard files in any row order, on any engine (the
    * q_shard_manifest oracle recomputes identical checksums in SQL),
    * and a silently truncated / duplicated / bit-flipped shard fails
    * the comparison by name. One extra corpus scan beyond the shard
    * assignment (the text must be read to be checksummed), all
    * map-side-combinable aggregates, output = nShards rows. */
  def shardManifest(docs: DataFrame, nShards: Int): DataFrame = {
    val shards = shardByTokens(docs, nShards).select("doc_id", "n_toks", "shard")
    docs.select(col("doc_id"),
        element_at(graft.expressions.TextExpressions.polyHash47(
          array(concat(col("doc_id").cast("string"), lit(":"), col("text")))),
          1).as("__h"))
      .join(shards, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"), sum("n_toks").as("tokens"),
        expr("bit_xor(__h)").as("checksum"))
      .orderBy("shard")
  }

  /** Deterministic global training order: `pos` = the document's
    * position in the scrambled-id permutation (same LCG draw as
    * [[sampleExactPerSource]] — replays identically across runs and
    * engines). The loader-facing "shuffle the corpus once per training
    * run" step, as a contiguous 0..N-1 ordering so epochs are resumable
    * from a position, computed by [[graft.scale.Ids.assign]] — no
    * single-partition window, no RDD exit.
    *
    * `epoch` offsets the id before the scramble (by a prime, so
    * distinct epochs never alias modulo the LCG's 2²⁰ period), giving
    * every training epoch its own permutation while keeping each one
    * replayable: same data + same epoch = same order, on any engine. */
  def shuffleOrder(docs: DataFrame, posCol: String = "pos",
                   epoch: Int = 0): DataFrame =
    graft.scale.Ids.assign(
        docs.withColumn("__graft_shuffle_key",
          Similarity.idScramble(col("doc_id") + lit(epoch * 7919L))),
        Seq("__graft_shuffle_key", "doc_id"), posCol)
      .drop("__graft_shuffle_key")

  /** Curriculum ordering (Bengio et al. 2009 applied to corpus prep):
    * contiguous 0..N-1 training position by an arbitrary difficulty
    * `score` (ascending, doc_id tie-break) — short-to-long, easy-to-hard
    * by LM NLL, any Column. The score-ordered twin of [[shuffleOrder]],
    * on the same [[graft.scale.Ids.assign]] machinery: range-partitioned
    * rank + prefix-sum offsets, no single-partition window, no RDD
    * exit. */
  def curriculumOrder(docs: DataFrame, score: org.apache.spark.sql.Column,
                      posCol: String = "pos"): DataFrame =
    graft.scale.Ids.assign(docs.withColumn("__graft_score", score),
        Seq("__graft_score", "doc_id"), posCol)
      .drop("__graft_score")

  /** Deterministic proportional interleave across sources — the
    * loader-facing "don't feed a run of same-source batches" ordering:
    * document k (0-based, doc_id order) of a source holding n docs
    * lands at global fraction (k+1)/(n+1), so each source spreads
    * evenly through the corpus and relative source order is stable
    * across engines and runs. Contiguous 0..N-1 positions via
    * [[graft.scale.Ids.assign]] over (fraction, source, k).
    *
    * The per-source index is NOT a `partitionBy(source)` window — that
    * spelling funnels every row of a source through ONE task (a corpus
    * has few sources, each huge: the hot-source sort is the first thing
    * to die at 100 TB). Instead [[graft.scale.Ids.assign]] computes the
    * global rank in (source, doc_id) order — range-partitioned, so a
    * big source SPLITS across tasks — and the per-source index is that
    * rank minus the source's exclusive offset, derived driver-side from
    * the per-source counts (#sources rows, collected in Spark's own
    * sort order so string collation matches the rank's). At extreme
    * per-source cardinality the double fraction loses ulps, which only
    * perturbs WHICH of two almost-equal slots two docs take — the
    * (source, k) tie-break keeps the result deterministic. */
  def interleaveBySources(docs: DataFrame, posCol: String = "pos"): DataFrame = {
    val spark = docs.sparkSession
    val cs = docs.groupBy("source").agg(count(lit(1)).as("__n"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var off = 0L
    val metaRows = cs.map { case (s, n) =>
      val r = org.apache.spark.sql.Row(s, n, off); off += n; r }
    val meta = spark.createDataFrame(
      java.util.Arrays.asList(metaRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("__n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val keyed = graft.scale.Ids.assign(docs, Seq("source", "doc_id"), "__gpos")
      .join(broadcast(meta), Seq("source"))
      .withColumn("__k", col("__gpos") - col("__off"))
      .withColumn("__frac",
        (col("__k") + 1).cast("double") / (col("__n") + 1).cast("double"))
    graft.scale.Ids.assign(keyed, Seq("__frac", "source", "__k"), posCol)
      .drop("__frac", "__n", "__k", "__gpos", "__off")
  }

  // ----- connected components / cluster dedup ----------------------------

  /** Attach the CC-loop fixpoint metrics to an edge frame so they ride
    * the frame's checkpoint materialization instead of costing separate
    * per-round driver actions: the distinct-edge count and an
    * ORDER-INDEPENDENT xor content hash of the edge set. The hash is a
    * pre-filter only — unequal hash proves unequal sets (skip the
    * except); equal hash still runs the exact except, so a collision
    * can never flip convergence. */
  private def observeEdgeSet(edges: DataFrame, name: String): DataFrame =
    edges.observe(name, count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L)).as("x"))

  /** Read back [[observeEdgeSet]]'s (count, xor) after the frame's
    * eager checkpoint ran. */
  private def edgeSetObserved(observed: DataFrame, name: String): (Long, Long) = {
    val r = observed.queryExecution.observedMetrics(name)
    (r.getLong(0), r.getLong(1))
  }

  /** Release a SPENT eager localCheckpoint's storage blocks. The CC
    * loop checkpoints every round (lineage must not grow with rounds);
    * without this, a long run retains every round's blocks in
    * MEMORY_AND_DISK until ContextCleaner gets to them. Only ever call
    * it on a frame no future consumer can read — a local checkpoint has
    * no lineage to recompute from. No-op on non-checkpoint frames. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): O(log² n) rounds where min-label propagation needs
    * O(diameter). On chain-heavy graphs (consecutive-id duplicate runs,
    * transitive boilerplate chains) that is the difference between 10
    * and 10 000 shuffles on a pathological 100 TB corpus, and on a
    * mega duplicate class the alternating rounds rebalance the hub's
    * neighborhood where propagation concentrates it in single tasks
    * (1M-doc adversarial-skew smoke, 100k-member class: propagation's
    * skew wall 3.54× benign with max task 6.37×, star 0.78×, flat).
    *
    * Each round is two agg+join passes over the EDGE set:
    *   large-star: every node links its LARGER neighbors to the minimum
    *     of its neighborhood (cuts long chains into shallow stars);
    *   small-star: every node links its smaller-or-equal neighbors and
    *     itself to the minimum of that set (merges overlapping stars).
    * Neither pass materializes an adjacency list (`groupBy.min` is a
    * partial aggregate, no `collect_list`), so a component's star center
    * — whose degree approaches component size — is shuffle skew for AQE,
    * not an executor-memory risk. Edges stay bounded by the input edge
    * count. Fixpoint = the canonical edge set is unchanged by a full
    * round (exact check: count + one-sided except). At fixpoint the
    * edges form a star forest (member → component-min), which IS the
    * label table. Returns (id, component) for every node with at least
    * one non-self edge in `pairs`, component = min node id reachable.
    *
    * If the graph is not at a fixpoint after `maxIter` rounds the labels
    * are NOT final — downstream cluster dedup would silently keep extra
    * near-duplicates. A non-converged exit logs a warning, or throws
    * when `requireConvergence` is set. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 20,
                              requireConvergence: Boolean = false): DataFrame = {
    val edges = starForest(pairs, maxIter, requireConvergence)
    // star forest: hi → lo(=center); centers label themselves
    edges.select(col("hi").as("id"), col("lo").as("component"))
      .union(edges.select(col("lo").as("id"), col("lo").as("component")))
      .distinct()
  }

  /** [[connectedComponentsStar]]'s loop: the canonical (hi > lo) edge set
    * at the fixpoint — a star forest, every `hi` linked to its
    * component's minimum `lo` — as the last round's checkpoint. */
  private def starForest(pairs: DataFrame, maxIter: Int,
                         requireConvergence: Boolean): DataFrame = {
    // canonical undirected edges (hi > lo), self-loops dropped. The
    // count (and the order-independent xor content hash the fixpoint
    // test reads, see below) ride the checkpoint materialization as
    // observed metrics — no separate count() job here or per round.
    val edges0 = observeEdgeSet(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct(), "cc_star_init")
    var edges = edges0.localCheckpoint(true)
    var (nEdges, xorEdges) = edgeSetObserved(edges0, "cc_star_init")
    var i = 0
    var converged = nEdges == 0L
    def adj(e: DataFrame): DataFrame =
      e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
    while (!converged && i < maxIter) {
      // large-star: (v, min(Γ(u) ∪ {u})) for v ∈ Γ(u), v > u.
      // The adjacency is explicitly hash-repartitioned on u ONCE so the
      // mins aggregate and the join's probe side share that single
      // exchange (REPARTITION_BY_COL — AQE-coalescible, so the width
      // stays scale-adaptive): without it the aggregate shuffles its own
      // copy while a broadcast join leaves the probe side exchange-less,
      // and each round pays two broadcast-build driver round-trips on
      // top (measured at sf0.1: rounds 1.9/1.1 s → 1.6/0.9 s, stable
      // across interleaved repeats). Same partial-agg skew posture —
      // the hub's rows concentrate per-partition either way.
      val a1 = adj(edges).repartition(col("u"))
      val mins = a1.groupBy("u").agg(min("v").as("mn"))
      // EAGERLY materialized: `large` is consumed twice (minsSmall's
      // aggregate + the small-star join's probe side), and when the
      // planner broadcasts the mins side the probe side carries no
      // exchange, so Catalyst's ReuseExchange has nothing to match and
      // the WHOLE large-star subtree — both aggregates and the join —
      // is otherwise planned twice per round (measured at sf0.1: the
      // round-0 executed plan held two copies of `large` and three of
      // `mins`; checkpointing large cut the round's plan to each phase
      // once). Bounded by the input edge count, same as `small`.
      val large = a1.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("u"), col("mn")).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .localCheckpoint(true)
      // small-star: (v, m) for v ∈ Γ⁻(u) ∪ {u}, m = min(Γ⁻(u) ∪ {u});
      // Γ⁻ = smaller neighbors, i.e. exactly the canonical (hi→lo) edges.
      // Same shared-exchange discipline as the large-star phase.
      val largeIn = large.repartition(col("hi"))
      val minsSmall = largeIn.groupBy(col("hi").as("u"))
        .agg(min("lo").as("mn"))
      val smallObs = observeEdgeSet(largeIn
        .join(minsSmall, largeIn("hi") === minsSmall("u"))
        .select(col("lo").as("hi"), col("mn").as("lo"))
        .union(minsSmall.select(col("u").as("hi"), col("mn").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct(), s"cc_star_$i")
      val small = smallObs.localCheckpoint(true)
      // count + order-independent xor content hash ride the checkpoint
      // job (formerly a separate count() action per round). Fixpoint
      // stays EXACT: sets of distinct rows with equal counts are equal
      // iff the one-sided difference is empty, and the except() decider
      // is unchanged — the xor hash only SKIPS it when the sets provably
      // differ (unequal hash ⇒ unequal sets; a collision merely runs the
      // except that then answers exactly). Measured at sf0.1 the skipped
      // equal-count-not-converged rounds paid 0.1–0.2 s each in except.
      val (n2, xor2) = edgeSetObserved(smallObs, s"cc_star_$i")
      converged = n2 == nEdges && xor2 == xorEdges && small.except(edges).isEmpty
      // previous round's edge set (and this round's large-star
      // intermediate) can no longer be read by anyone — small is
      // materialized and the except above has run — so release their
      // checkpoint blocks instead of retaining 2 RDDs/round
      unpersistCheckpoint(edges)
      unpersistCheckpoint(large)
      edges = small
      nEdges = n2
      xorEdges = xor2
      i += 1
    }
    if (!converged) {
      val msg = "connectedComponentsStar did not converge within " +
        s"maxIter=$maxIter rounds; labels are not a fixpoint (raise maxIter)"
      if (requireConvergence) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    edges
  }

  /** Cluster-complete near-dup dedup: MinHash-LSH bucket graph →
    * connected components → every document labelled with its cluster id
    * (its own id if unpaired). Pairwise dedup keeps B when A~B, B~C but
    * A≁C; clustering removes the whole chain, keeping one canonical
    * (min-id) survivor per component — the standard corpus-dedup
    * semantics. Edges are the LINEAR per-bucket star form — provably
    * the same components as the all-pairs candidate graph
    * ([[TextPipeline.minhashBucketStarEdges]]) at d-1 edges per bucket
    * instead of d², the form that survives a mega duplicate class (one
    * 50k-doc boilerplate family owes 1.25 B all-pairs edges; star owes
    * 50k). Components come from [[connectedComponentsStar]]. The
    * component map holds only docs with ≥1 same-bucket neighbor —
    * usually a small fraction, but on a duplicate-heavy corpus it can
    * approach corpus size, so the join strategy is left to AQE rather
    * than a forced broadcast. */
  def clusterComponents(docs: DataFrame, n: Int = 3, k: Int = 16,
                        bands: Int = 4): DataFrame = {
    val comp = connectedComponentsStar(
      TextPipeline.minhashBucketStarEdges(docs, n, k, bands))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** The near-duplicates the min-id rule removes: every document of the
    * MinHash bucket graph that is not its component's minimum, i.e. the
    * `hi` side of the star forest. Removing them from the corpus equals
    * keeping [[clusterComponents]]' `doc_id == component` rows, without
    * labelling the whole corpus. Even a non-converged forest never lists
    * a component's minimum (hi > lo on every edge). */
  private def nearDupMembers(docs: DataFrame, n: Int, k: Int,
                             bands: Int): DataFrame =
    starForest(TextPipeline.minhashBucketStarEdges(docs, n, k, bands),
      maxIter = 20, requireConvergence = false).select(col("hi").as("doc_id"))

  /** Survivors with a quality keep rule: per near-dup cluster, keep the
    * document maximizing `score` (ties → min doc_id) instead of the
    * arbitrary min-id member — "keep the canonical copy" (the longest /
    * best-LM-scored version of a boilerplate family), the keep rule
    * production dedup actually wants. `score` is any Column over the
    * doc frame (length(text), a negated [[unigramNll]], …).
    *
    * One `max_by` hash aggregate over (component) — map-side
    * combinable, single shuffle on the component id; no per-cluster
    * window, no ordering. The component map itself is
    * [[clusterComponents]] (candidate-edge CC), plus one slim join to
    * attach the score. */
  def clusterDedupBest(docs: DataFrame, score: org.apache.spark.sql.Column,
                       n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame =
    bestByComponent(clusterComponents(docs, n, k, bands), docs, score)

  /** Max-`score` member (ties → min id) of every component — the shared
    * keep rule of [[clusterDedupBest]] and [[curate]]'s `keepBest`. */
  private def bestByComponent(comp: DataFrame, docs: DataFrame,
      score: org.apache.spark.sql.Column): DataFrame =
    comp
      .join(docs.select(col("doc_id"), score.as("__score")), Seq("doc_id"))
      .groupBy("component")
      .agg(max_by(col("doc_id"),
        struct(col("__score"), -col("doc_id"))).as("doc_id"))
      .select("doc_id")

  // ----- corpus composition report ---------------------------------------

  /** Per-source corpus composition: document count, total/average token
    * volume, distinct-text count (md5-keyed — the dedup headroom signal a
    * mixing decision needs). One hash aggregate over (source, md5) then
    * one over source; both partial-aggregate map-side. */
  def corpusReport(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), md5(col("text").cast("binary")).as("text_md5"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy(col("source"), col("text_md5"))
      .agg(count(lit(1)).as("copies"), sum("n_toks").as("toks"))
      .groupBy(col("source"))
      .agg(
        sum("copies").as("n_docs"),
        count(lit(1)).as("n_uniq_texts"),
        sum("toks").as("total_tokens"),
        round(sum("toks").cast("double") / sum("copies"), 2).as("avg_tokens"))

  /** Per-source token-length quantiles (exact interpolated percentiles —
    * the length-distribution view mixing and truncation decisions read).
    * Exact `percentile` is one hash aggregate holding per-source value
    * counts; for unbounded sources at 100 TB swap to `approx_percentile`
    * (same call shape, sketch state). */
  def corpusQuantiles(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(expr("percentile(n_toks, array(0.5, 0.9, 0.99))").as("q"))
      .select(col("source"),
        round(col("q")(0), 2).as("p50_tokens"),
        round(col("q")(1), 2).as("p90_tokens"),
        round(col("q")(2), 2).as("p99_tokens"))

  /** Token-budget mixture solver: given per-source target weights and a
    * total token budget, emit per source its available tokens, its
    * integer token allocation `target_tokens = budget·w/Σw` (floor), and
    * the repeat factor `epochs = target/available` (> 1 ⇒ the source is
    * upsampled, the signal mixing dashboards watch) — the step that
    * turns a corpus-composition report into concrete sampling rates for
    * [[sampleBySource]].
    *
    * One token-count aggregate over the corpus (map-side combinable
    * longs) joined to the broadcast weight table; everything after the
    * aggregate is metadata-sized. Sources without a target weight are
    * dropped (weight 0). The join is OUTER from the weight table: a
    * target source absent from the corpus (a typo'd name, a source not
    * yet ingested) still emits its row with `total_tokens = 0` and
    * `epochs = null`, so per-source `target_tokens` always sum to
    * ~`tokenBudget` and an unallocatable share is visible instead of
    * silently vanishing. Integer allocation arithmetic is exact and
    * engine-portable; caller contract: `tokenBudget × max(weight)` must
    * stay inside Long (weights are small ratios, budgets ≤ ~10^15 —
    * fine for 100 TB ≈ 2.5·10^13 tokens). */
  def mixtureSolve(docs: DataFrame, targetWeights: Map[String, Long],
                   tokenBudget: Long): DataFrame = {
    require(tokenBudget >= 0, s"tokenBudget $tokenBudget is negative")
    require(targetWeights.nonEmpty && targetWeights.values.forall(_ > 0),
      "target weights must be positive")
    val wSum = targetWeights.values.sum
    require(targetWeights.values.forall(w =>
      w <= Long.MaxValue / math.max(tokenBudget, 1L)),
      "tokenBudget * weight overflows Long")
    val spark = docs.sparkSession
    val wdf = spark.createDataFrame(
      java.util.Arrays.asList(targetWeights.toSeq.sortBy(_._1).map {
        case (s, w) => org.apache.spark.sql.Row(s, w)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // LEFT join FROM the weight table = every weight row survives. The
    // outer side must be the streamed side of a broadcast-hash join
    // (unmatched rows can't come off the build side), so the broadcast
    // goes on the corpus AGGREGATE — metadata-sized by then, one row
    // per source; the corpus-scale work all happens below the agg.
    val perSource = docs
      .select(col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_toks"))
      .groupBy("source")
      .agg(sum("n_toks").as("total_tokens"))
    wdf.join(broadcast(perSource), Seq("source"), "left")
      .select(col("source"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        col("weight"),
        expr(s"($tokenBudget * weight) div $wSum").as("target_tokens"),
        when(coalesce(col("total_tokens"), lit(0L)) > 0L,
          round(expr(s"($tokenBudget * weight) div $wSum").cast("double") /
            col("total_tokens"), 4)).as("epochs"))
  }

  // ----- train/val/test split --------------------------------------------

  /** Deterministic train/val/test assignment: the salted fingerprint hash
    * maps each doc to [0, 1e6) ppm space; the first `valPpm` go to val,
    * the next `testPpm` to test, the rest to train. Pure stateless filter
    * logic — no sampling seed, no shuffle, stable under reruns and corpus
    * growth (a document's split never changes when others are added,
    * which is what keeps eval sets uncontaminated across corpus
    * versions). Salt differs from [[sampleBySource]]'s so mixing and
    * splitting stay independent decisions. */
  def assignSplit(docs: DataFrame, valPpm: Long = 10000L,
                  testPpm: Long = 10000L): DataFrame = {
    val u = ppmHash("split")
    docs.withColumn("split",
      when(u < valPpm, "val")
        .when(u < valPpm + testPpm, "test")
        .otherwise("train"))
  }

  // ----- composed end-to-end pipeline ------------------------------------

  /** The full curation pipeline a training-data run chains together:
    * repetition filter → cluster-complete near-dup dedup → benchmark
    * decontamination → deterministic source mixing → token chunking.
    *
    * One pass over the corpus: every stage but dedup keeps rows by a
    * per-document predicate — [[repetitionStats]]' `dup_word_frac`, the
    * benchmark overlap of [[decontaminate]], the sampling hash — and
    * chunking explodes in place. Dedup runs connected components over
    * the repetition survivors' MinHash bucket graph, and the corpus then
    * meets it in ONE anti-join against the near-duplicate members the
    * min-id rule removes (the `keepBest` rule instead joins the
    * max-score member of each component, [[clusterDedupBest]]'s rule).
    * Every stage keeps the rows of its individually oracle-checked
    * operator; this is pure composition, no new semantics.
    *
    * Precondition: `doc_id` is unique and non-null — every stage keys
    * on it, and a null-id row is dropped. The connected components and
    * the benchmark's shingle set are computed when `curate` is called;
    * nothing is left persisted. */
  def curate(docs: DataFrame, benchmark: DataFrame,
             maxDupWordFrac: Double = 0.55,
             n: Int = 3, k: Int = 16, bands: Int = 4,
             ratesPpm: Map[String, Long] = Map.empty,
             defaultPpm: Long = 1000000L,
             chunkSize: Int = 64, stride: Int = 48,
             keepBest: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val kept = repetitionFilter(docs, maxDupWordFrac)
    val deduped = keepBest match {
      case None =>
        kept.join(nearDupMembers(kept, n, k, bands), Seq("doc_id"), "left_anti")
      case Some(score) =>
        kept.join(bestByComponent(clusterComponents(kept, n, k, bands), kept, score),
          Seq("doc_id"))
    }
    val clean = decontaminate(deduped, benchmark, n)
    val mixed = sampleBySource(clean, ratesPpm, defaultPpm)
    chunk(mixed, chunkSize, stride)
  }

  /** [[curate]]'s first stage: documents with a non-null id whose
    * `dup_word_frac` is at most `maxDupWordFrac` — a row-local filter. */
  private[graft] def repetitionFilter(docs: DataFrame,
                                      maxDupWordFrac: Double): DataFrame =
    docs.filter(col("doc_id").isNotNull && dupWordFrac(col("text")) <= maxDupWordFrac)

  // ----- deterministic source mixing -------------------------------------

  /** Deterministic per-source downsampling (data-mixing weights): keep a
    * document iff a stable content-independent hash of its id lands under
    * the source's rate. Rates are parts-per-million so the keep decision
    * is pure integer arithmetic — reproducible across engines and runs,
    * unlike `sample()` whose seed is partition-dependent. The hash is the
    * portable 47-bit polynomial fingerprint (TextFunctions.fingerprint),
    * salted so sampling is independent of other fingerprint uses. */
  def sampleBySource(docs: DataFrame, ratesPpm: Map[String, Long],
                     defaultPpm: Long = 1000000L): DataFrame = {
    val rate = ratesPpm.foldLeft(lit(defaultPpm)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    docs.filter(ppmHash("mix") < rate)
  }

  /** Per-source keep-rates (ppm, for [[sampleBySource]]) that hit a
    * total token budget at a target mix: water-filling over the
    * (driver-sized) per-source token counts from [[corpusReport]].
    * Each round gives every unsaturated source its weight-share of the
    * remaining budget; a source whose share exceeds its actual tokens
    * saturates at rate 1.0 and its unused share flows back into the
    * pool — the standard correction naive `budget·w/tokens` rates miss
    * (they strand budget on small sources and under-fill the rest).
    * Pure driver arithmetic on a map with one entry per source. */
  def ratesForTokenBudget(tokensBySource: Map[String, Long], budget: Long,
      weights: Map[String, Double] = Map.empty): Map[String, Long] = {
    require(budget >= 0, "budget must be non-negative")
    val w = if (weights.isEmpty) tokensBySource.map { case (s, _) => s -> 1.0 }
            else weights
    @annotation.tailrec
    def fill(remaining: Double, active: Set[String],
             acc: Map[String, Double]): Map[String, Double] = {
      val wsum = active.toSeq.map(w.getOrElse(_, 0.0)).sum
      if (remaining <= 0 || active.isEmpty || wsum <= 0) acc
      else {
        val saturated = active.filter(s =>
          tokensBySource(s) <= remaining * (w.getOrElse(s, 0.0) / wsum))
        if (saturated.isEmpty)
          acc ++ active.map(s => s ->
            remaining * (w.getOrElse(s, 0.0) / wsum) / tokensBySource(s))
        else
          fill(remaining - saturated.toSeq.map(tokensBySource(_).toDouble).sum,
            active -- saturated, acc ++ saturated.map(_ -> 1.0))
      }
    }
    val rates = fill(budget.toDouble,
      tokensBySource.filter(_._2 > 0).keySet, Map.empty)
    tokensBySource.map { case (s, _) =>
      s -> math.min(1000000L, math.round(rates.getOrElse(s, 0.0) * 1000000L))
    }
  }

  /** Temperature-scaled mixing rates (the multilingual sampling rule of
    * Conneau & Lample 2019 / mT5): source weight ∝ tokens^(1/T), so
    * T = 1 reproduces natural (proportional) sampling, larger T flattens
    * toward uniform — upsampling small sources at the expense of large
    * ones. Delegates to [[ratesForTokenBudget]]'s water-filling, which
    * already handles the saturation case the closed-form rates miss
    * (a small source asked for more tokens than it has). Pure driver
    * arithmetic, feeds [[sampleBySource]]. */
  def ratesForTemperature(tokensBySource: Map[String, Long], budget: Long,
                          temperature: Double): Map[String, Long] = {
    require(temperature > 0, "temperature must be positive")
    ratesForTokenBudget(tokensBySource, budget,
      tokensBySource.map { case (s, n) =>
        s -> math.pow(n.toDouble, 1.0 / temperature) })
  }

  /** Salted id → uniform [0, 1e6) ppm value, SQL-portable. The raw
    * polynomial fingerprint clusters for short consecutive keys (doc ids
    * differ only in trailing chars), so an LCG avalanche step — bounded
    * pre-mod, same arithmetic as Similarity's idScramble — decorrelates
    * it before the ppm reduction. */
  private def ppmHash(salt: String) =
    (pmod(TextFunctions.fingerprint(
      concat(lit(s"$salt:"), col("doc_id").cast(StringType))), lit(1048576L))
      * 2654435761L + 40503L) % 1000000L

  // ----- model-based quality signals --------------------------------------

  /** Per-document mean negative log-likelihood under a unigram language
    * model trained on `reference` — the CCNet-style quality signal
    * (score against a trusted corpus; low NLL ≈ fluent, high ≈ junk),
    * with the LM reduced to unigrams so the whole thing stays
    * relational. Laplace smoothing keeps out-of-vocabulary tokens
    * finite: p(t) = (cnt(t)+1) / (total+|V|+1).
    *
    * Shuffle discipline: the LM is token-keyed and joined on token (the
    * vocabulary is unbounded, so it is NOT forced broadcast — same
    * reasoning as TF-IDF); the two LM totals are one broadcast row.
    * Per-token NLL is snapped to integer micro-units before the per-doc
    * mean, so the aggregate is exact integer math — reproducible across
    * engines and partition orders (q_unigram_nll replays it in DuckDB). */
  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each document by
    * how much more likely its hashed n-gram features are under a TARGET
    * corpus (the distribution you want — wiki/books) than under the RAW
    * corpus it came from. Features are the paper's unigrams + bigrams
    * hashed into `buckets` slots via the portable 47-bit fingerprint;
    * both feature distributions are Laplace-smoothed bucket frequencies,
    * and a document's log-weight is the sum of its features' log
    * probability ratios. Selection = keep the highest `log_w` (the
    * deterministic variant of the paper's Gumbel resampling — see
    * [[curriculumOrder]] to materialize that order).
    *
    * Shuffle discipline: both feature tables reduce to `buckets` rows
    * (map-side combinable counts), every bucket 0..buckets-1 is
    * materialized so out-of-corpus features hit the same Laplace
    * formula, and the ratio table is broadcast against the corpus-side
    * explode — one explode, one broadcast join, one aggregate. Per-
    * bucket ratios are snapped to integer micro-units before the
    * per-doc sum (the [[unigramNll]] trick), so the aggregate is exact
    * integer math — reproducible across engines and partition orders.
    * Token-less documents have no features and no row. */
  def dsirWeights(docs: DataFrame, target: DataFrame, raw: DataFrame,
                  buckets: Int = 1024): DataFrame =
    dsirWeightsCached(docs, target, raw, buckets).result

  /** [[dsirWeights]] with the release handle for the persisted corpus
    * feature frame. When `raw` is the SAME DataFrame instance as `docs`
    * (the [[dsirSelect]] shape: score the corpus against itself), the
    * bucketed-gram frame is computed ONCE, persisted, and read by both
    * the raw-side bucket counts and the scoring aggregate — without it
    * the full corpus is tokenized+exploded twice per action. Distinct
    * frames keep the two independent passes (and persist nothing). */
  def dsirWeightsCached(docs: DataFrame, target: DataFrame, raw: DataFrame,
                        buckets: Int = 1024): graft.core.Cached[DataFrame] = {
    val (w, backing) = dsirWeightsImpl(docs, target, raw, buckets)
    graft.core.Cached(w, backing: _*)
  }

  /** (doc_id [, extras], bucket) rows of the hashed unigram+bigram DSIR
    * feature space — the NATIVE tier: one codegen'd shingle+hash pass
    * per document, and the explode fans out 8-byte hashes instead of
    * gram strings. Values are identical to the
    * `tokens`/`shinglesFromTokens`/`fingerprint` composite chain
    * (wordShingles and polyHash47 are spec-pinned equal to the
    * composites, and `fingerprint` IS the per-element polyHash47
    * formula), so the DSIR/NB oracles are unchanged. */
  private def hashedGramBuckets(d: DataFrame, buckets: Int,
                                extra: Seq[String] = Nil): DataFrame = {
    import graft.expressions.TextExpressions.{polyHash47, wordShingles}
    val hashes = polyHash47(concat(
      wordShingles(col("text"), 1), wordShingles(col("text"), 2)))
    d.select(col("doc_id") +: extra.map(col) :+ explode(hashes).as("h"): _*)
      .select(col("doc_id") +: extra.map(col) :+
        pmod(col("h"), lit(buckets.toLong)).as("bucket"): _*)
  }

  private def dsirWeightsImpl(docs: DataFrame, target: DataFrame,
                              raw: DataFrame, buckets: Int)
      : (DataFrame, Seq[DataFrame]) = {
    def docBuckets(d: DataFrame) = hashedGramBuckets(d, buckets)
    val shareCorpusPass = raw eq docs
    val db =
      if (shareCorpusPass)
        docBuckets(docs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else docBuckets(docs)
    val p = docBuckets(target).groupBy("bucket").agg(count(lit(1)).as("tc"))
    val q = (if (shareCorpusPass) db else docBuckets(raw))
      .groupBy("bucket").agg(count(lit(1)).as("rc"))
    // every bucket exists in the ratio table, so corpus-side features
    // never miss the join and the Laplace arithmetic is uniform
    val totals = p.agg(coalesce(sum("tc"), lit(0L)).as("tt"))
      .crossJoin(q.agg(coalesce(sum("rc"), lit(0L)).as("rt")))
    val ratio = totals
      .select(explode(sequence(lit(0L), lit(buckets - 1L))).as("bucket"),
        col("tt"), col("rt"))
      .join(p, Seq("bucket"), "left").join(q, Seq("bucket"), "left")
      .na.fill(0L, Seq("tc", "rc"))
      .withColumn("ratio_u", round(
        (log((col("tc") + 1).cast("double") / (col("tt") + lit(buckets))) -
          log((col("rc") + 1).cast("double") / (col("rt") + lit(buckets))))
          * 1000000.0d).cast("long"))
      .select("bucket", "ratio_u")
    val w = db
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        round((sum("ratio_u") / 1000000.0d), 6).as("log_w"))
    (w, if (shareCorpusPass) Seq(db) else Seq.empty)
  }

  /** DSIR selection: keep the `keepFrac` fraction of the corpus with the
    * highest [[dsirWeights]] score against `target` (raw distribution =
    * the corpus itself) — the deterministic variant of the paper's
    * Gumbel-noise resampling (noise de-duplicates samples when drawing
    * WITH replacement; selection without replacement is exactly top-k).
    * Returns the surviving documents.
    *
    * The rank key is the LENGTH-NORMALIZED weight `log_w / n_feats`
    * (mean per-feature log-ratio), not the raw sum: every feature absent
    * from the target contributes a negative term, so the raw sum
    * penalizes long documents regardless of match quality — a short
    * all-miss document would outrank a long document that matches the
    * target well plus some extra text. Normalizing by the feature count
    * ranks on match DENSITY, which is the selection the paper's
    * per-example importance weights intend.
    *
    * Scale shape: the corpus is tokenized ONCE ([[dsirWeightsCached]]
    * with raw eq docs shares the bucketed-gram frame between the raw
    * bucket counts and the scoring aggregate); the rank runs over the
    * narrow persisted (doc_id, score) frame — [[curriculumOrder]]'s
    * range-exchange needs several metadata passes and must not drag
    * document text through them — and survivors come back as a semi
    * join on doc_id. The keep count is one broadcast row. Token-less
    * documents carry no weight and are dropped. */
  def dsirSelect(docs: DataFrame, target: DataFrame, keepFrac: Double,
                 buckets: Int = 1024): DataFrame =
    dsirSelectCached(docs, target, keepFrac, buckets).result

  /** [[dsirSelect]] with the release handle for the persisted
    * intermediates (the corpus feature frame and the per-doc scores). */
  def dsirSelectCached(docs: DataFrame, target: DataFrame, keepFrac: Double,
                       buckets: Int = 1024): graft.core.Cached[DataFrame] = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, s"keepFrac $keepFrac not in (0,1]")
    val (wRaw, backing) = dsirWeightsImpl(docs, target, docs, buckets)
    val w = wRaw
      .withColumn("__score", col("log_w") / col("n_feats"))
      .select("doc_id", "__score")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = w.agg(ceil(count(lit(1)) * keepFrac).cast("long").as("__keep"))
    val keepIds = curriculumOrder(w, -col("__score"), "__pos")
      .crossJoin(broadcast(n))
      .filter(col("__pos") < col("__keep"))
      .select("doc_id")
    graft.core.Cached(
      docs.join(keepIds, Seq("doc_id"), "left_semi"),
      (w +: backing): _*)
  }

  def unigramNll(docs: DataFrame, reference: DataFrame): DataFrame = {
    val lm = reference
      .select(explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // coalesce: sum over an EMPTY reference is null, and a null total
    // would silently null every score instead of degrading to uniform
    val totals = lm.agg(coalesce(sum("cnt"), lit(0L)).as("total"),
      count(lit(1)).as("vocab"))
    docs
      .select(col("doc_id"),
        explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("token"))
      .join(lm, Seq("token"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(totals))
      .withColumn("nll_u", round(-log(
        (col("cnt") + 1).cast("double") / (col("total") + col("vocab") + 1))
        * 1000000.0d).cast("long"))
      .groupBy("doc_id")
      .agg(round((sum("nll_u") / count(lit(1))) / 1000000.0d, 6).as("avg_nll"),
        count(lit(1)).as("n_tokens"))
  }

  /** Per-source distribution drift between two corpus snapshots: the
    * smoothed unigram KL(cur ‖ prev) — the "did the recrawl shift what
    * this source looks like" monitor that decides whether mixing
    * weights, quality thresholds, and trained filters need refitting
    * (the run-over-run cousin of [[graft.scale.Checks]]' anomaly screen,
    * over token distributions instead of scalar metrics).
    *
    * Add-one smoothing over the UNION vocabulary per source, so both
    * distributions normalize over the same support and novel/vanished
    * tokens contribute finite mass. The log-ratio is snapped to integer
    * micro-units ([[unigramNll]]'s fixed-point discipline) so the result
    * hash-matches the SQL oracle despite the ln().
    *
    * Shape at scale: two (source, token) count aggregates (map-side
    * combinable), one full-outer join on the hashed token space — counts,
    * never text — then per-source totals via one window over the joined
    * frame (single pass, no branch recompute) and one tiny final
    * aggregate. Long envelope: (c+1)·|lr_u| per token ≲ 3·10¹³; vocab
    * up to ~10⁵ rows per source stays well inside 2⁶³. */
  def corpusDrift(prev: DataFrame, cur: DataFrame): DataFrame = {
    def counts(d: DataFrame, name: String) = d
      .select(col("source"), explode(
        graft.expressions.TextExpressions.wordShingles(col("text"), 1))
        .as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as(name))
    val bydst = org.apache.spark.sql.expressions.Window.partitionBy("source")
    counts(prev, "q_cnt")
      .join(counts(cur, "c_cnt"), Seq("source", "token"), "full_outer")
      .na.fill(0L, Seq("q_cnt", "c_cnt"))
      .withColumn("q_tot", sum("q_cnt").over(bydst))
      .withColumn("c_tot", sum("c_cnt").over(bydst))
      .withColumn("vocab", count(lit(1)).over(bydst))
      .withColumn("lr_u", round(log(
        ((col("c_cnt") + 1) * (col("q_tot") + col("vocab"))).cast("double") /
          ((col("q_cnt") + 1) * (col("c_tot") + col("vocab"))).cast("double"))
        * 1000000.0d).cast("long"))
      .groupBy("source")
      .agg(
        round(sum((col("c_cnt") + 1) * col("lr_u")).cast("double") /
          (max("c_tot") + max("vocab")) / 1000000.0d, 6).as("kl"),
        max("q_tot").as("prev_tokens"),
        max("c_tot").as("cur_tokens"),
        max("vocab").as("vocab"))
  }

  /** Streaming face of [[unigramNll]]: score each arriving document
    * against a STATIC reference LM. Stream-static left join on the
    * exploded tokens (the supported streaming join shape — the LM side
    * is a plain batch frame, broadcast); the two LM totals are computed
    * once at plan build, which is sound because reference corpora are
    * static by nature (the same reason the batch form broadcasts them).
    * Per-document scores aggregate under an event-time window +
    * watermark, so state is bounded and append mode emits each doc's
    * score exactly once. Same fixed-point micro-unit NLL as the batch
    * scorer — parity is spec-pinned on identical input. */
  def unigramNllStream(docs: DataFrame, reference: DataFrame,
                       watermark: String = "1 hour",
                       windowLen: String = "1 minute"): DataFrame = {
    val lm = reference
      .select(explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val t = lm.agg(coalesce(sum("cnt"), lit(0L)).as("total"),
      count(lit(1)).as("vocab")).head()
    val denom = (t.getAs[Long]("total") + t.getAs[Long]("vocab") + 1L).toDouble
    docs
      .withWatermark("event_time", watermark)
      .select(col("doc_id"), col("event_time"),
        explode(graft.expressions.TextExpressions.wordShingles(col("text"), 1)).as("token"))
      .join(broadcast(lm), Seq("token"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("nll_u",
        round(-log((col("cnt") + 1).cast("double") / denom) * 1000000.0d)
          .cast("long"))
      .groupBy(window(col("event_time"), windowLen), col("doc_id"))
      .agg(round((sum("nll_u") / count(lit(1))) / 1000000.0d, 6).as("avg_nll"),
        count(lit(1)).as("n_tokens"))
      .select("doc_id", "avg_nll", "n_tokens")
  }

  /** Quality gate on [[unigramNll]]: keep the best `keepFrac` fraction
    * of each source's documents by LM score (lowest NLL first, doc_id
    * tie-break). CCNet's per-bucket perplexity cut, as a composable
    * filter; token-less documents have no score and are dropped.
    *
    * The exact form ranks with `percent_rank` per source — a per-source
    * total order, fine while each source fits a task spill but the
    * WRONG shape for 3 sources × 100 TB. The documented scale swap: one
    * `percentile_approx(avg_nll, keepFrac)` aggregate per source
    * (map-side combinable, no ordering), then `avg_nll <= threshold` —
    * same cut up to sketch error, no oracle (approx sketches are not
    * engine-portable), which is why the exact form is the checked one
    * (same trade as corpusQuantiles). */
  def qualityGate(docs: DataFrame, reference: DataFrame,
                  keepFrac: Double = 0.9): DataFrame =
    docs
      .join(unigramNll(docs, reference).select("doc_id", "avg_nll"),
        Seq("doc_id"))
      .withColumn("__pr", percent_rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("avg_nll").asc, col("doc_id").asc)))
      .filter(col("__pr") <= keepFrac)
      .drop("__pr", "avg_nll")

  /** CCNet's perplexity bucketing (Wenzek et al. 2020 §4): per source,
    * rank documents by [[unigramNll]] score and label the most-fluent
    * `headFrac` fraction "head", the next `middleFrac` "middle", the
    * rest "tail" — the three-way split CCNet feeds to downstream
    * samplers (train mostly on head+middle, keep tail for diversity).
    * Unlike [[qualityGate]] nothing is dropped: the bucket is a column,
    * so mixing policy stays a separate, later decision.
    *
    * Exact form: `percent_rank` per source (avg_nll asc, doc_id
    * tie-break) — the same per-source total order as the exact quality
    * gate, and the same 100 TB caveat: two per-source `percentile_approx`
    * thresholds are map-side combinable and impose no per-source order,
    * at the cost of sketch error at the boundaries and of the oracle
    * check. */
  def perplexityBuckets(docs: DataFrame, reference: DataFrame,
                        headFrac: Double = 1.0 / 3,
                        middleFrac: Double = 1.0 / 3): DataFrame =
    docs
      .join(unigramNll(docs, reference).select("doc_id", "avg_nll"),
        Seq("doc_id"))
      .withColumn("__pr", percent_rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("avg_nll").asc, col("doc_id").asc)))
      .withColumn("bucket",
        when(col("__pr") <= headFrac, "head")
          .when(col("__pr") <= headFrac + middleFrac, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("source"), col("avg_nll"), col("bucket"))

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, restated):
    * keep a line only if it ends in terminal punctuation, has at least
    * `minWords` words, and mentions no banned phrase; drop the whole
    * document when `{` appears (code) or fewer than `minLines` lines
    * survive. Line rules run inside ONE higher-order filter over the
    * split array — no explode/re-group shuffle, the document never
    * leaves its partition (the explode form would shuffle every line of
    * a 100 TB corpus just to reassemble it). */
  def c4LineFilter(docs: DataFrame, minWords: Int = 5,
                   banned: Seq[String] = Seq("javascript", "cookie",
                     "lorem ipsum", "terms of use"),
                   minLines: Int = 1, dropBraces: Boolean = true): DataFrame = {
    def keep(l: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val t = trim(l)
      val words = size(filter(split(t, " "), w => length(w) > 0))
      banned.map(b => !lower(t).contains(b))
        .foldLeft(t.rlike("[.!?\"]$") && words >= minWords)(_ && _)
    }
    val kept = filter(split(col("text"), "\n"), keep(_))
    docs
      .withColumn("__kept", kept)
      .withColumn("n_kept", size(col("__kept")))
      .withColumn("n_dropped",
        size(split(col("text"), "\n")) - col("n_kept"))
      .filter(col("n_kept") >= minLines &&
        (if (dropBraces) !col("text").contains("{") else lit(true)))
      .select(col("doc_id"),
        array_join(col("__kept"), "\n").as("text_clean"),
        col("n_kept"), col("n_dropped"))
  }

  /** EXACTLY `k` documents per source (fewer only when a source is
    * smaller than k), drawn by the deterministic scrambled-id order —
    * the fixed-size counterpart of [[sampleBySource]]'s rate form, for
    * eval-set carving and per-source caps where "about k" isn't good
    * enough. The window partitions by source, so Spark plans a per-group
    * partial top-k (WindowGroupLimit) instead of any global sort, and
    * the draw replays identically across runs and engines
    * (q_sample_exact runs the same arithmetic in DuckDB). */
  def sampleExactPerSource(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(Similarity.idScramble(col("doc_id")).asc,
            col("doc_id").asc)))
      .filter(col("__rk") <= k).drop("__rk")

  /** Cross-source contamination matrix: for every source pair, how many
    * distinct word `n`-grams they share, plus the gram-set Jaccard —
    * the "is src_web a superset of src_books" / "did two crawls ingest
    * the same mirror" diagnostic that decides whether per-source mixing
    * rates double-count content.
    *
    * Shape at scale: ONE pass over the gram space — explode →
    * `groupBy(gram-fp47)` with `collect_set(source)` (the set dedups
    * (gram, source) occurrences map-side AND builds the per-gram source
    * list in the same aggregate; a separate `.distinct()` first would be
    * a second full-gram shuffle for nothing), then each gram's set fans
    * out to its source PAIRS and its SINGLETONS in the same explode, so
    * one tiny `groupBy(a, b)` yields both the pair counts (a ≠ b) and
    * the per-source gram totals (a = b) — no second scan of the
    * distinct-gram frame and nothing gram-sized is ever persisted. The
    * set is bounded by #sources — a corpus has tens of sources, so the
    * hottest gram fans out to at most #sources + C(#sources, 2) cells,
    * NOT d² in documents. Each pair's per-source totals come from the
    * DIAGONAL cells via two chained windows over the #sources²-row
    * frame (max of the a = b count within each source_a / source_b
    * partition) — trivially-sized shuffles that keep the whole operator
    * ONE linear job, where the previous branch-and-broadcast shape
    * (persist cells, build two broadcast totals, rejoin) paid three
    * job launches and a cache round-trip just to look the diagonal up.
    * The output is #source-pairs rows. Never joins documents against
    * documents. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // shingling+hashing dwarfs the row bytes; an unsplittable one-row-
    // group test file must not serialize it onto one core (no-op on a
    // wide corpus scan)
    val wide = graft.scale.Skew.ensureMinParallelism(docs,
      docs.sparkSession.sparkContext.defaultParallelism)
    val gramRows = wide
      .select(col("source"), explode(
        graft.expressions.TextExpressions.polyHash47(
          graft.expressions.TextExpressions.wordShingles(col("text"), n)))
        .as("g"))
    // Source dictionary, collected once: bounded by #sources — the same
    // metadata-sized driver state class as Ids.prefixSum's offsets,
    // NOT a data collect. NOTE this collect is an
    // EAGER job at DataFrame-construction time (building the query scans
    // `source` off the corpus once — column-pruned, ReadSchema is the
    // one string column); measured at sf0.1 it is job-launch floor, not
    // bytes (~0.3 s of the query's ~1.3 s), and the alternative — a
    // join/window against a source-index frame — re-adds the extra
    // broadcast builds the r19 reshape removed. Sorted DRIVER-side in
    // UTF8 binary order (UTF8String.compareTo — exactly Spark's string
    // `<=`), so the index comparison below is exactly the
    // `source_a <= source_b` ordering; an orderBy in the job itself
    // would cost a range exchange plus its sampling pass on a
    // metadata-sized frame. Embedding the dictionary as literal
    // map/array expressions keeps the whole fast path free of extra
    // joins, windows, and broadcast builds.
    val srcs0 = docs.select(col("source")).distinct()
      .collect().map(_.getString(0))
    val srcs =
      if (srcs0.contains(null)) srcs0 // fallback path below; order unused
      else srcs0.sortWith((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
    val nSrc = srcs.length
    val cells =
      // a null source key cannot enter a map literal — such corpora
      // (like >62-source ones) take the join fallback, which treats
      // null as an ordinary grouping value exactly like the old shape
      if (nSrc > 0 && nSrc <= 62 && !srcs.contains(null)) {
        // Mask fast path: each gram's source set is a single long —
        // `bit_or(1 << idx)` is a codegen DeclarativeAggregate whose
        // map-side partials also dedup duplicate (gram, source) rows for
        // free, so the per-gram shuffle state is 16 bytes instead of a
        // boxed string set (the former collect_set ObjectHashAggregate
        // ran outside whole-stage codegen and serialized string sets
        // through the exchange). Same single gram-keyed shuffle and the
        // same ≤ k² fanout per gram as before, now codegen end to end;
        // the pair counts partial-aggregate map-side to ≤ #sources² rows
        // per task. Cells are identical by construction: a bit is set
        // iff the source held the gram.
        val idxMap = map(srcs.zipWithIndex.flatMap { case (s, i) =>
          Seq(lit(s), lit(i)) }: _*)
        val srcArr = array(srcs.map(lit): _*)
        val masks = gramRows
          .withColumn("__i", element_at(idxMap, col("source")))
          .groupBy("g")
          .agg(expr("bit_or(shiftleft(1L, __i))").as("m"))
        val bitsOf = expr(
          s"filter(sequence(0, ${nSrc - 1}), i -> (shiftright(m, cast(i as int)) & 1) = 1)")
        masks
          .select(col("m"), explode(bitsOf).as("ia"))
          .select(col("ia"), explode(bitsOf).as("ib"))
          .filter(col("ia") <= col("ib"))
          .groupBy("ia", "ib").agg(count(lit(1)).as("cnt"))
          .select(element_at(srcArr, col("ia").cast("int") + 1).as("source_a"),
            element_at(srcArr, col("ib").cast("int") + 1).as("source_b"),
            col("cnt"))
      } else {
        // > 62 sources: distinct (gram, source) via a codegen hash
        // aggregate, then ordered source pairs a ≤ b per gram via a
        // self-join on the 8-byte gram key (both sides the identical
        // subtree — one exchange, read twice). Same cells, no long-width
        // cap; fanout still ≤ #sources² per gram, never d² in documents.
        val perGramSource = gramRows.distinct()
        perGramSource.as("a")
          .join(perGramSource.as("b"),
            col("a.g") === col("b.g") && col("a.source") <= col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("cnt"))
      }
    // every source with ≥1 gram has its (s, s) diagonal cell, so the
    // window max over the marked diagonal is that source's gram total
    val diag = when(col("source_a") === col("source_b"), col("cnt"))
    cells
      .withColumn("__ta", max(diag).over(org.apache.spark.sql.expressions.Window.partitionBy("source_a")))
      .withColumn("__tb", max(diag).over(org.apache.spark.sql.expressions.Window.partitionBy("source_b")))
      .filter(col("source_a") =!= col("source_b"))
      .select(col("source_a"), col("source_b"),
        col("cnt").as("shared_grams"),
        round(col("cnt").cast("double") /
          (col("__ta") + col("__tb") - col("cnt")), 6).as("jaccard"))
  }

  /** Snapshot diff for incremental corpus refresh: which documents were
    * added, removed, or changed between two corpus versions — the
    * work-list that lets a recrawl re-curate the DELTA instead of the
    * world (re-score/re-chunk `added`+`changed`, retire `removed` from
    * the stores via the incremental-dedup tier and
    * `Documents.deleteDaily`).
    *
    * Scale: each side is reduced map-side to (doc_id, 16-byte md5) — the
    * text column never reaches the shuffle — then one full-outer
    * hash-join on doc_id (both sides corpus-sized, so a shuffle join is
    * the right plan; AQE handles skew). Unchanged rows are filtered out,
    * so the output is DELTA-sized. Content identity = digest equality,
    * the same convention as [[TextPipeline.dedupExactByHash]]. */
  def corpusDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("doc_id"),
      md5(col("text").cast("binary")).as("__prev_md5"))
    val c = cur.select(col("doc_id"),
      md5(col("text").cast("binary")).as("__cur_md5"))
    p.join(c, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__prev_md5").isNull, lit("added"))
          .when(col("__cur_md5").isNull, lit("removed"))
          .when(col("__prev_md5") =!= col("__cur_md5"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** Multinomial Naive Bayes text classifier over hashed word n-gram
    * features — the closed-form stand-in for the fastText-style linear
    * quality/domain filters corpus pipelines train (CCNet, Joulin et al.
    * 2017 arXiv:1607.01759; DCLM's fastText quality classifier): same
    * bag-of-hashed-ngrams feature space, but NB's fit is two COUNT
    * aggregates instead of SGD epochs, so training and inference are both
    * single-pass, deterministic, and oracle-checkable in SQL.
    *
    * Features are the DSIR recipe's unigrams+bigrams hashed into
    * `buckets` (portable fp47). Train split = doc_id % `testMod` != 0,
    * classes = `labelCol` values. Per-class feature log-likelihoods are
    * Laplace-smoothed over the FULL bucket space (every (bucket, class)
    * cell exists, so scoring never misses the join) and snapped to
    * integer micro-units — integers sum exactly under any aggregation
    * order, which is what makes the argmax engine-portable. Prediction =
    * highest Σ log-lik + log-prior; ties to the lexically-lowest class.
    *
    * Scale: the model is `buckets × classes` rows — broadcast-sized by
    * construction (1024×20 here), independent of corpus size. Training
    * is one explode → hash-aggregate over the train split (map-side
    * combinable); scoring is one explode + broadcast join + hash
    * aggregate over the test split. No windows, no iterations, no
    * driver-side data.
    *
    * Output: (doc_id, <labelCol>, predicted) for the test split —
    * token-less documents have no features and are dropped (same
    * convention as [[unigramNll]]).
    */
  def nbClassify(docs: DataFrame, labelCol: String = "source",
                 testMod: Int = 5, buckets: Int = 1024): DataFrame = {
    val feats = hashedGramBuckets(
      docs.withColumn("__label", col(labelCol)), buckets, Seq("__label"))
    val train = feats.filter(col("doc_id") % testMod =!= 0)

    val classes = docs.filter(col("doc_id") % testMod =!= 0)
      .groupBy(col(labelCol).as("__label"))
      .agg(count(lit(1)).as("ndocs"))
    val nTrain = classes.agg(coalesce(sum("ndocs"), lit(0L)).as("n"))
    val priors = classes.crossJoin(nTrain)
      .select(col("__label"),
        round(log(col("ndocs").cast("double") / col("n")) * 1000000.0d)
          .cast("long").as("prior_u"))

    val counts = train.groupBy("__label", "bucket").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("__label").agg(sum("cnt").as("tot"))
    // full bucket × class grid: Laplace cell exists even at count 0
    val theta = totals
      .select(col("__label"), col("tot"),
        explode(sequence(lit(0L), lit(buckets - 1L))).as("bucket"))
      .join(counts, Seq("__label", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("theta_u",
        round(log((col("cnt") + 1).cast("double") / (col("tot") + lit(buckets)))
          * 1000000.0d).cast("long"))
      .select("__label", "bucket", "theta_u")

    feats.filter(col("doc_id") % testMod === 0)
      .select(col("doc_id"), col("__label").as("__actual"), col("bucket"))
      .join(broadcast(theta), Seq("bucket")) // fans out ×classes
      .groupBy(col("doc_id"), col("__label"))
      .agg(first(col("__actual")).as("__actual"),
        sum(col("theta_u")).as("ll_u"))
      .join(broadcast(priors), Seq("__label"))
      .withColumn("score_u", col("ll_u") + col("prior_u"))
      .groupBy(col("doc_id"))
      .agg(first(col("__actual")).as(labelCol),
        min_by(col("__label"), struct(-col("score_u"), col("__label")))
          .as("predicted"))
  }
}
