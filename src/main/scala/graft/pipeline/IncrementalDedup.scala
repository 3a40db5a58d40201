package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incremental near-dup candidate maintenance for a corpus that arrives
  * in increments (a stream's micro-batches). A streaming corpus cannot
  * run corpus-wide LSH self-joins with bounded state, but it does not
  * need to: candidate pairs against everything ALREADY INGESTED only
  * require the historical band-key table, which is an append-only
  * parquet store, not streaming state.
  *
  * Per increment ([[ingest]] / [[ingestSimhash]] / [[ingestEmbeddings]] /
  * [[ingestSemantic]]):
  *   1. band-key the new batch with the SAME key derivation as the
  *      corresponding batch operator ([[TextPipeline.minhashLsh]] /
  *      [[TextPipeline.simhashBandKeys]] / [[Similarity.lshBandKeys]]),
  *      so buckets agree by construction;
  *   2. candidates = (new × new within the batch) ∪ (store × new on
  *      shared bucket) — the new side of the cross join is the small
  *      side (one increment vs the whole history) and is broadcast;
  *   3. verify schemes re-attach signatures/vectors (from the payload
  *      store plus the batch) for the exact hamming/cosine confirmation
  *      the batch operator applies;
  *   4. publish the batch's keys (and payload) to the store ATOMICALLY:
  *      every table's rows are staged under an uncommitted ingest
  *      directory and made visible by one marker-file create, so a crash
  *      at any point leaves the store either without the batch entirely
  *      (re-ingest cleanly) or with every table consistent — never band
  *      keys whose confirm payload is missing.
  *
  * Every candidate pair is emitted exactly once, at the ingest of its
  * LATER member — so the union of all increments' outputs equals the
  * batch operator over the union of all batches (spec-pinned per scheme
  * and oracle-checked). The store only ever grows by the increment's
  * rows; nothing is rewritten, which is what makes this run as a
  * foreachBatch against a 100 TB history.
  *
  * Store reads use an explicit file-list snapshot taken at ingest time
  * and results are pinned with an eager localCheckpoint, so a
  * lazily-held candidates frame never sees later appends.
  *
  * `maxBucket` caps bucket size on BOTH pair branches at each ingest:
  * the store side (hot boilerplate buckets would otherwise make every
  * future increment pay d pairs per new member) and the within-batch
  * new×new self-join (one boilerplate-heavy increment would otherwise
  * owe d² pairs through the single reducer owning that bucket — the
  * same failure [[TextPipeline.capBuckets]] guards in the batch
  * twins). Unlike the batch cap it cannot retroactively drop pairs
  * emitted before a bucket crossed the cap, and the APPENDED keys are
  * always uncapped (the store keeps everything; caps apply at read).
  * `tileTarget` is the recall-lossless alternative for the
  * within-batch branch: hot batch buckets are 2-D tiled over the
  * cluster ([[graft.scale.Skew.tiledPairs]]) instead of dropped.
  */
object IncrementalDedup {

  /** Band-key table (doc_id, bucket) for a batch. The long band key is
    * stringified at the store boundary — every scheme's key store shares
    * one (id, bucket string) schema (winnow casts its fingerprints the
    * same way), and the cast is injective so pair sets are unchanged. */
  def index(docs: DataFrame, n: Int = 3, k: Int = 16,
            bands: Int = 4): DataFrame =
    TextPipeline.minhashLsh(docs, n, k, bands)
      .select(col("doc_id"), col("bucket").cast("string").as("bucket"))

  // ----- store plumbing ---------------------------------------------------
  //
  // Visibility-gated appends: every ingest STAGES its rows for each table
  // under `<table>/ingest_<id>/` and then creates ONE `_commits/<id>`
  // marker file; [[snapshot]] reads only marked stagings (plus legacy
  // bare-append files). The multi-table schemes (keys+sigs, keys+vecs,
  // grams+hcounts) previously appended with two independent writes — a
  // crash between them corrupted the store SILENTLY: band keys whose
  // signatures/vectors never landed confirm-join their pairs away
  // forever, and grams without their counts understate `s`, breaking the
  // exactly-once emission rule. With the single marker, a crash anywhere
  // before its atomic create leaves every staged directory invisible and
  // the batch re-ingests cleanly; a crash after it is a completed
  // ingest. Uncommitted stagings from crashed runs are inert (never
  // read) and may be deleted at leisure — they are NOT swept here, so a
  // concurrent ingest's in-flight staging is never destroyed.

  private def fsOf(spark: SparkSession, path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshIngestId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** Stage one table's batch rows under an uncommitted ingest dir. */
  private[graft] def stage(df: DataFrame, dir: String, table: String,
                              id: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$table/ingest_$id")

  /** Atomically publish every staging of `id` (one empty marker file). */
  private[graft] def commitIngest(spark: SparkSession, dir: String,
                                     id: String): Unit = {
    val p = new Path(s"$dir/_commits/$id")
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    fs.create(p, false).close()
  }

  private def committedIds(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Set[String] = {
    val p = new Path(s"$dir/_commits")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  /** Snapshot of a store table's current contents — legacy bare-append
    * parquet files plus COMMITTED ingest stagings; an empty frame with
    * `schema` when the table holds nothing yet. The explicit path list
    * pins the read: appends that land after this call are invisible to
    * the returned frame. */
  private def snapshot(spark: SparkSession, dir: String, table: String,
                       schema: StructType): DataFrame = {
    val p = new Path(s"$dir/$table")
    val fs = fsOf(spark, p)
    val paths =
      if (!fs.exists(p)) Array.empty[String]
      else {
        val committed = committedIds(fs, dir)
        fs.listStatus(p).flatMap { st =>
          val name = st.getPath.getName
          if (st.isDirectory)
            if (name.startsWith("ingest_") &&
                committed(name.stripPrefix("ingest_")))
              Some(st.getPath.toString)
            else None // uncommitted staging (or foreign dir): invisible
          else if (name.endsWith(".parquet")) Some(st.getPath.toString)
          else None
        }
      }
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(paths.toIndexedSeq: _*)
  }

  private def keySchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("bucket", StringType)))

  /** Core exactly-once pair emission: (new × new) ∪ (capped store × new,
    * new side broadcast), oriented a < b. Caller appends the keys AFTER
    * materializing its result.
    *
    * The within-batch self-join honors the same hot-bucket guards as
    * the batch operators: `maxBucket` drops over-cap batch buckets
    * before pairing (lossy, cheap); `tileTarget` tiles them instead
    * (lossless, spreads the d² output over the cluster). `tileTarget`
    * wins when both are set. The store×new branch needs neither — it
    * is a broadcast join whose output explosion is spread over the
    * store's scan partitions, and the store side is already capped. */
  private[graft] def keyedPairs(store: DataFrame, newKeys: DataFrame,
                         idCol: String, outA: String, outB: String,
                         maxBucket: Long, tileTarget: Long): DataFrame = {
    val capped = TextPipeline.capBuckets(store, maxBucket)
    val within =
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(newKeys, idCol, "bucket", tileTarget)
          .select(col("a").as(outA), col("b").as(outB))
      else {
        val nw = TextPipeline.capBuckets(newKeys, maxBucket)
        nw.as("a").join(nw.as("b"),
            col(s"a.bucket") === col(s"b.bucket") &&
              col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as(outA), col(s"b.$idCol").as(outB))
      }
    val cross = capped.as("s").join(broadcast(newKeys.as("nw")),
        col(s"s.bucket") === col(s"nw.bucket") &&
          col(s"s.$idCol") =!= col(s"nw.$idCol"))
      .select(least(col(s"s.$idCol"), col(s"nw.$idCol")).as(outA),
        greatest(col(s"s.$idCol"), col(s"nw.$idCol")).as(outB))
    within.union(cross).distinct()
  }

  /** [[keyedPairs]] with fixed-width payload columns riding the pair
    * generation (the batch twins' bucket-local-confirm discipline,
    * guide §2.3: at pair volume, re-attaching a signature with two
    * pair-keyed joins AFTER the distinct is the dominant shuffle —
    * carry the 8 bytes through the bucket join instead). Both `store`
    * and `newKeys` must carry every `carry` column next to (idCol,
    * bucket); output columns are (outA, outB, a_<c>, b_<c>…) with the
    * payloads orientation-corrected to the least/greatest id swap.
    * NO distinct here — the caller confirms (filter) first, so the
    * dedup shuffle carries confirmed pairs only, then distincts. */
  private[graft] def keyedPairsCarry(store: DataFrame, newKeys: DataFrame,
                         idCol: String, outA: String, outB: String,
                         maxBucket: Long, tileTarget: Long,
                         carry: Seq[String]): DataFrame = {
    val capped = TextPipeline.capBuckets(store, maxBucket)
    val within =
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(newKeys, idCol, "bucket", tileTarget,
            carry)
          .select(Seq(col("a").as(outA), col("b").as(outB)) ++
            carry.flatMap(c => Seq(col(s"a_$c"), col(s"b_$c"))): _*)
      else {
        val nw = TextPipeline.capBuckets(newKeys, maxBucket)
        nw.as("a").join(nw.as("b"),
            col("a.bucket") === col("b.bucket") &&
              col(s"a.$idCol") < col(s"b.$idCol"))
          .select(Seq(col(s"a.$idCol").as(outA),
              col(s"b.$idCol").as(outB)) ++
            carry.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"),
              col(s"b.$c").as(s"b_$c"))): _*)
      }
    val fwd = col(s"s.$idCol") < col(s"nw.$idCol")
    val cross = capped.as("s").join(broadcast(newKeys.as("nw")),
        col(s"s.bucket") === col(s"nw.bucket") &&
          col(s"s.$idCol") =!= col(s"nw.$idCol"))
      .select(Seq(least(col(s"s.$idCol"), col(s"nw.$idCol")).as(outA),
          greatest(col(s"s.$idCol"), col(s"nw.$idCol")).as(outB)) ++
        carry.flatMap(c => Seq(
          when(fwd, col(s"s.$c")).otherwise(col(s"nw.$c")).as(s"a_$c"),
          when(fwd, col(s"nw.$c")).otherwise(col(s"s.$c")).as(s"b_$c"))): _*)
    within.union(cross)
  }

  // ----- minhash scheme (word-shingle Jaccard candidates) -----------------

  /** Minhash band keys switched encoding (band-value strings → poly-31
    * folds) while the store table name and string schema stayed the
    * same, so a pre-switch store would JOIN cleanly yet never match —
    * cross-upgrade duplicates silently lost. The same silent-loss shape
    * exists BETWEEN schemes: minhash, 47-bit simhash, and 94-bit wide
    * simhash all share the string-typed `keys` table, and their bucket
    * encodings never collide, so a store built by one scheme joins
    * cleanly-but-emptily under another. A one-file per-scheme format
    * marker turns both silent losses into a refusal: stores created by
    * the current build carry their scheme's marker; a store with
    * committed band keys but the wrong/absent marker is either a
    * cross-scheme mixup or a pre-encoding store, and must be rebuilt
    * from the corpus (re-ingest) before this build may touch it. */
  private val MinhashFormatMarker = "minhash_bandkeys_p31"
  private val SimhashFormatMarker = "simhash47_bandkeys_p31"
  private val SimhashWideFormatMarker = "simhash94_bandkeys"

  private def ensureFormat(spark: SparkSession, dir: String,
                           marker: String, scheme: String): Unit = {
    val path = new Path(s"$dir/_format/$marker")
    val fs = fsOf(spark, path)
    if (fs.exists(path)) return
    // A FOREIGN marker refuses even when the keys table is still empty:
    // the marker is written before the first commit, so an aborted first
    // ingest leaves (foreign marker, no keys) — if another scheme then
    // claimed the dir because "no keys yet", the original scheme's
    // resume would find its own marker present and happily share the
    // string-typed keys table whose bucket encodings never match —
    // exactly the silent cross-scheme pair loss this guard refuses.
    val foreign =
      if (fs.exists(path.getParent))
        fs.listStatus(path.getParent).map(_.getPath.getName).sorted
      else Array.empty[String]
    val keys = new Path(s"$dir/keys")
    val hasPriorKeys = fs.exists(keys) && fs.listStatus(keys).nonEmpty
    if (foreign.nonEmpty || hasPriorKeys) {
      val found = if (foreign.nonEmpty) foreign.mkString(", ") else "none"
      throw new IllegalStateException(
        s"$scheme key store at $dir is not this scheme's: it has " +
          s"${if (hasPriorKeys) "committed band keys" else "a format dir"} " +
          s"but no '$marker' marker (markers present: $found). Either " +
          "it was built by a DIFFERENT scheme (bucket encodings never " +
          "match across schemes) or it predates the current key " +
          "encoding — both silently lose duplicate pairs. Rebuild the " +
          "store by re-ingesting the corpus with this scheme (or keep " +
          "querying it with the build/scheme that wrote it).")
    }
    fs.mkdirs(path.getParent)
    fs.create(path, false).close()
  }

  private def ensureMinhashFormat(spark: SparkSession, dir: String): Unit =
    ensureFormat(spark, dir, MinhashFormatMarker, "minhash (poly-31)")

  /** Ingest one batch: return its candidate pairs (within-batch and
    * against the pre-existing store, `doc_a < doc_b`), then append the
    * batch's band keys to the store. Batch twin:
    * [[TextPipeline.minhashCandidates]]. */
  def ingest(dir: String, docs: DataFrame, n: Int = 3, k: Int = 16,
             bands: Int = 4, maxBucket: Long = 0L,
             tileTarget: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    ensureMinhashFormat(spark, dir)
    val newKeys = index(docs, n, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val store = snapshot(spark, dir, "keys", keySchema("doc_id"))
    val result =
      keyedPairs(store, newKeys, "doc_id", "doc_a", "doc_b", maxBucket,
        tileTarget)
        .localCheckpoint(true) // pin results before the store grows
    val id = freshIngestId()
    stage(newKeys, dir, "keys", id)
    commitIngest(spark, dir, id)
    newKeys.unpersist()
    result
  }

  // ----- simhash scheme (Hamming-confirmed candidates) --------------------

  /** Simhash ingest: bit-band candidate pairing plus the exact Hamming
    * confirmation over full 47-bit signatures (old signatures read from
    * the payload store). Output (doc_a, doc_b, hamming) — batch twin:
    * [[TextPipeline.simhashCandidates]]. */
  def ingestSimhash(dir: String, docs: DataFrame, bands: Int = 4,
                    maxHamming: Int = 3, maxBucket: Long = 0L,
                    tileTarget: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    ensureFormat(spark, dir, SimhashFormatMarker, "47-bit simhash")
    val newSigs = TextPipeline.simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the 8-byte signature rides the band explode on BOTH sides (the
    // batch twin's bucket-local-confirm reshape, r20): the store's band
    // keys are RE-DERIVED from the sigs payload table — the identical
    // derivation that wrote the keys table, so buckets agree by
    // construction and the store format is untouched — which both
    // removes the two pair-keyed signature joins the old shape paid
    // AFTER the pair distinct (at pair volume, its dominant shuffles)
    // and reads ONE store table instead of two.
    val bandKeysOf = (sigs: DataFrame) => sigs.select(col("doc_id"),
      col("simhash"),
      explode(TextPipeline.simhashBandKeys(col("simhash"), bands))
        .as("bucket"))
    val newKeys = bandKeysOf(newSigs)
    val storeKeys = bandKeysOf(snapshot(spark, dir, "sigs", StructType(Seq(
      StructField("doc_id", LongType), StructField("simhash", LongType)))))
    val result =
      keyedPairsCarry(storeKeys, newKeys, "doc_id", "doc_a", "doc_b",
        maxBucket, tileTarget, Seq("simhash"))
      .withColumn("hamming",
        bit_count(col("a_simhash").bitwiseXOR(col("b_simhash"))).cast("int"))
      // hamming is pair-functional, so filter→distinct ≡ distinct→filter
      // and the dedup shuffle carries confirmed pairs only
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
      .localCheckpoint(true)
    // keys and sigs publish under ONE marker: a batch is either fully in
    // the store or fully absent — keys-without-sigs would silently drop
    // every future pair against this batch at the confirm join. The
    // keys table keeps its exact (doc_id, bucket string) schema even
    // though this build's read path derives keys from sigs: the store
    // stays readable by the build/scheme contract that wrote it.
    val id = freshIngestId()
    stage(newKeys.select("doc_id", "bucket"), dir, "keys", id)
    stage(newSigs, dir, "sigs", id)
    commitIngest(spark, dir, id)
    newSigs.unpersist()
    result
  }

  /** Wide-signature (94-bit) simhash ingest — the incremental face of
    * [[TextPipeline.simhashCandidatesWide]], for corpora past the 47-bit
    * band space (see the batch twin's scaladoc for the measured recall
    * collapse). Long band keys stringify at the store boundary (the
    * winnow discipline — injective, pair sets unchanged); the payload
    * table `sigs_wide` carries BOTH vote folds under its own name.
    * Cross-scheme mixups (a wide store pointed at [[ingestSimhash]] or
    * vice versa) are refused up front by the per-scheme format marker —
    * a missing payload table would otherwise snapshot as an EMPTY frame
    * and silently drop every cross-batch pair. Exactly-once emission and
    * the one-marker multi-table commit as every other scheme. */
  def ingestSimhashWide(dir: String, docs: DataFrame, maxHamming: Int = 3,
                        maxBucket: Long = 0L, tileTarget: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    ensureFormat(spark, dir, SimhashWideFormatMarker, "94-bit wide simhash")
    val newSigs = TextPipeline.simhashWide(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both signature halves ride the band explode, store keys re-derived
    // from the sigs_wide payload — the same bucket-local-confirm reshape
    // as [[ingestSimhash]] (store format untouched, one store table read
    // instead of two, the two pair-keyed signature joins gone)
    val bandKeysOf = (sigs: DataFrame) => sigs.select(col("doc_id"),
        col("simhash"), col("simhash2"),
        explode(TextPipeline.simhashWideBandKeys(
          col("simhash"), col("simhash2"))).as("b"))
      .withColumn("bucket", col("b").cast("string")).drop("b")
    val newKeys = bandKeysOf(newSigs)
    val storeKeys = bandKeysOf(snapshot(spark, dir, "sigs_wide",
      StructType(Seq(
        StructField("doc_id", LongType), StructField("simhash", LongType),
        StructField("simhash2", LongType)))))
    val result =
      keyedPairsCarry(storeKeys, newKeys, "doc_id", "doc_a", "doc_b",
        maxBucket, tileTarget, Seq("simhash", "simhash2"))
      .withColumn("hamming",
        (bit_count(col("a_simhash").bitwiseXOR(col("b_simhash"))) +
          bit_count(col("a_simhash2").bitwiseXOR(col("b_simhash2"))))
          .cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
      .localCheckpoint(true)
    val id = freshIngestId()
    stage(newKeys.select("doc_id", "bucket"), dir, "keys", id)
    stage(newSigs, dir, "sigs_wide", id)
    commitIngest(spark, dir, id)
    newSigs.unpersist()
    result
  }

  // ----- winnowing scheme (shared-fingerprint overlap candidates) ---------

  /** Winnowing ingest — the incremental face of
    * [[TextPipeline.winnowCandidates]]: document pairs sharing at least
    * `minShared` winnowing fingerprints, each pair emitted exactly once
    * (at the ingest of its later member). The shared COUNT is exact at
    * emission time: the later member's full fingerprint set is in the
    * batch and the earlier member's is in the append-only store, so
    * every shared fingerprint appears as exactly one bucket-join match
    * in exactly one branch (a pair is either both-in-batch or
    * store×new — the store never contains batch members). Fingerprints
    * come from the zero-shuffle native expression; the store grows by
    * the batch's (doc_id, fp) rows only.
    *
    * `maxDocs` caps fingerprint document-frequency per branch at ingest
    * time (the batch twin caps on corpus-wide df — same boilerplate
    * rationale, visibility-scoped like every incremental cap here). */
  def ingestWinnow(dir: String, docs: DataFrame, k: Int = 5, w: Int = 4,
                   minShared: Long = 2L, maxDocs: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    val newKeys = TextPipeline.winnowFingerprintsNative(docs, k, w)
      .select(col("doc_id"), col("fp").cast("string").as("bucket")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val store = snapshot(spark, dir, "winnow_keys", keySchema("doc_id"))
    val result = winnowPairsCore(store, newKeys, minShared, maxDocs)
      .localCheckpoint(true) // pin results before the store grows
    val id = freshIngestId()
    stage(newKeys, dir, "winnow_keys", id)
    commitIngest(spark, dir, id)
    newKeys.unpersist()
    result
  }

  /** The winnow shared-count core shared by [[ingestWinnow]] and the
    * streaming face ([[graft.streaming.CurationStream.winnowPairs]]):
    * exact per-pair shared-fingerprint counts over (store × new) ∪
    * (new × new). */
  private[graft] def winnowPairsCore(store: DataFrame, newKeys: DataFrame,
                                     minShared: Long,
                                     maxDocs: Long): DataFrame = {
    val cappedStore = TextPipeline.capBuckets(store, maxDocs)
    val cappedNew = TextPipeline.capBuckets(newKeys, maxDocs)
    val within = cappedNew.as("a").join(cappedNew.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cross = cappedStore.as("s").join(broadcast(cappedNew.as("nw")),
        col("s.bucket") === col("nw.bucket") &&
          col("s.doc_id") =!= col("nw.doc_id"))
      .select(least(col("s.doc_id"), col("nw.doc_id")).as("doc_a"),
        greatest(col("s.doc_id"), col("nw.doc_id")).as("doc_b"))
    within.union(cross)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ----- edit-distance scheme (levenshtein-confirmed fuzzy dedup) ---------

  /** Edit-distance ingest — the incremental face of
    * [[TextPipeline.editDistancePairs]]: document pairs within `maxDist`
    * character edits, each emitted exactly once (at the ingest of its
    * later member), candidates blocked on shared word `n`-shingles with
    * both of the batch twin's recall-safe prunes (adaptive shared-count
    * bound + length bound) running on store-side ints BEFORE any text
    * moves.
    *
    * Store tables (published under ONE commit marker per ingest; keys
    * are 8-byte poly-47 shingle hashes, the batch twin's key
    * discipline — collisions only merge key identities, which is
    * recall-safe end to end, see [[TextPipeline.editDistancePairsCached]]):
    *  - `ed_keys` (doc_id, h): the UNCENSORED distinct-shingle
    *    inverted index. Keys are stored uncensored on purpose: the df
    *    cap must be evaluated against the df VISIBLE at each pairing,
    *    and censoring at write time would freeze each doc's censor set
    *    at its ingest-time df — a shingle crossing the cap later would
    *    then be dropped on one side of a pair but kept on the other,
    *    which breaks the count bound's recall proof (it requires the
    *    SAME censor set on both sides).
    *  - `ed_meta` (doc_id, len, total): the prune ints — char length
    *    and total distinct-shingle count (both censor-independent).
    *  - `ed_texts` (doc_id, text): the confirm payload (the simhash
    *    scheme's `sigs` analogue), read only by output-sized survivors.
    *  - `ed_dfs` (h, cnt): per-batch PARTIAL document-frequency
    *    counts whose sum is a shingle's visible df ([[ingestSpans]]'s
    *    `hcounts` pattern). Appended even when `maxDf <= 0`, so a store
    *    ingested uncapped can turn the cap on later.
    *
    * Censor symmetry per ingest: the hot set C = {shingle : visible df
    * > maxDf} is aggregated over the full df history + this batch and
    * applied to BOTH sides of every pair — the batch index is
    * anti-joined against C, and the cross branch intersects store keys
    * with the already-censored batch keys, so every pair's shared count
    * is exactly |Sa ∩ Sb ∖ C|. Effective rare counts are total − |S ∩ C|
    * (the store side's via one broadcast-hash join of the key scan
    * against C; a doc ingested before a shingle went hot is thereby
    * re-censored retroactively), so the batch bound
    * `shared ≥ max(rare_a, rare_b) − maxDist·(n+1)` applies with one
    * censor set and the batch twin's recall argument holds verbatim.
    * The cap is visibility-scoped (df = what has been ingested so far),
    * like every incremental cap here; C is boilerplate-vocabulary-sized
    * and broadcasts.
    *
    * Scale shape per ingest: one aggregate over the append-only df
    * partials, one store key scan with broadcast probe sides (batch
    * keys, C), candidate rows stay (long, long) through both prunes,
    * and only output-sized survivors join `ed_texts` for the O(len²)
    * levenshtein confirm. */
  def ingestEditDistance(dir: String, docs: DataFrame, maxDist: Int,
                         n: Int = 2, maxDf: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    val dfSchema = StructType(Seq(
      StructField("h", LongType), StructField("cnt", LongType)))
    val edKeySchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("h", LongType)))
    val metaSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("len", org.apache.spark.sql.types.IntegerType),
      StructField("total", LongType)))
    val textSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val core = editDistanceCore(
      Some((snapshot(spark, dir, "ed_keys", edKeySchema),
        snapshot(spark, dir, "ed_meta", metaSchema),
        snapshot(spark, dir, "ed_texts", textSchema),
        snapshot(spark, dir, "ed_dfs", dfSchema))),
      docs, maxDist, n, maxDf)
    val result = core.pairs
      .localCheckpoint(true) // pin results before the store grows
    val id = freshIngestId()
    stage(core.keys, dir, "ed_keys", id)
    stage(core.meta, dir, "ed_meta", id)
    stage(core.texts, dir, "ed_texts", id)
    stage(core.dfs, dir, "ed_dfs", id)
    commitIngest(spark, dir, id)
    core.release()
    result
  }

  /** One edit-distance ingest's lazily-composed frames: the emitted
    * pairs plus the four table appends the caller must publish (under
    * one marker here; as idempotent batch partitions on the streaming
    * face). `release()` drops the internal persists — call it after the
    * caller has MATERIALIZED `pairs`. */
  private[graft] final case class EdBatch(pairs: DataFrame, keys: DataFrame,
      meta: DataFrame, texts: DataFrame, dfs: DataFrame, release: () => Unit)

  /** The candidate/prune/confirm core shared by [[ingestEditDistance]]
    * and the streaming face
    * ([[graft.streaming.CurationStream.ingestEditDistanceBatch]]): all
    * the semantics documented on [[ingestEditDistance]], over
    * caller-supplied store snapshots (`None` = empty store). */
  private[graft] def editDistanceCore(
      store: Option[(DataFrame, DataFrame, DataFrame, DataFrame)],
      docs: DataFrame, maxDist: Int, n: Int, maxDf: Long): EdBatch = {
    require(maxDist >= 0, "maxDist >= 0")
    val spark = docs.sparkSession
    val base = graft.scale.Skew.ensureMinParallelism(
      docs.select(col("doc_id"), col("text")),
      spark.sparkContext.defaultParallelism, Seq(col("doc_id")))
    // len rides the inverted index rows (4 bytes, row-local at explode
    // time — the batch twin's r20 reshape) so the within-batch length
    // bound prunes candidate rows BEFORE the pair groupBy, the branch's
    // dominant exchange. The STORE write projects it back out
    // (EdBatch.keys below), so the persisted ed_keys schema is untouched.
    val newInv = base.select(col("doc_id"), length(col("text")).as("len"),
        explode(graft.expressions.TextExpressions.polyHash47(
          graft.expressions.TextExpressions
            .wordShingles(col("text"), n, distinct = true))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // len is a per-group constant of the carried column — min() reads it
    // back without the former join against a second scan of `base`
    val newMeta = newInv.groupBy("doc_id")
      .agg(min("len").as("len"), count(lit(1)).as("total"))
      .select("doc_id", "len", "total")
    val batchDfs = newInv.groupBy("h").agg(count(lit(1)).as("cnt"))
    // only shingle-bearing docs are stored (a doc below n words can
    // never be a candidate), and only survivors' texts move
    val newTexts = base.join(newMeta.select("doc_id"), Seq("doc_id"),
      "left_semi")
    val (storeKeys, storeMeta, storeTexts, storeDfs) = store.getOrElse(
      (newInv.select("doc_id", "h").filter(lit(false)),
        newMeta.filter(lit(false)),
        newTexts.filter(lit(false)), batchDfs.filter(lit(false))))
    val hot =
      if (maxDf <= 0L) None
      else Some(storeDfs
        .union(batchDfs)
        .groupBy("h").agg(sum("cnt").as("df"))
        .filter(col("df") > maxDf)
        .select("h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val batchKeys = hot.fold(newInv)(h =>
        newInv.join(broadcast(h), Seq("h"), "left_anti"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // effective rare counts under TODAY's censor set: stored docs get
    // total − |stored keys ∩ C| (retroactive re-censoring), batch docs
    // simply count their surviving keys
    val storeRare = hot match {
      case Some(h) =>
        val hc = storeKeys.join(broadcast(h), Seq("h"))
          .groupBy("doc_id").agg(count(lit(1)).as("__hc"))
        storeMeta.join(hc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("len"),
            (col("total") - coalesce(col("__hc"), lit(0L))).as("rare"))
      case None =>
        storeMeta.select(col("doc_id"), col("len"), col("total").as("rare"))
    }
    val batchRare = batchKeys.groupBy("doc_id")
      .agg(min("len").as("len"), count(lit(1)).as("rare"))
      .select("doc_id", "len", "rare")
    val rareAll = storeRare.union(batchRare)
    // the length bound prunes within-batch candidate rows INSIDE the
    // h-keyed self-join, before the pair groupBy (pair-exact: every row
    // of a pair carries the same (len_a, len_b), so a pair fully
    // survives or fully drops and survivors' __shared is untouched —
    // the batch twin's r20 argument verbatim). The cross branch cannot
    // pre-prune (store keys are (doc_id, h) on disk; len would change
    // the persisted schema), so its pairs keep the post-aggregate bound.
    val within = batchKeys.as("a").join(batchKeys.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cross = storeKeys.as("s").join(broadcast(batchKeys.as("nw")),
        col("s.h") === col("nw.h") &&
          col("s.doc_id") =!= col("nw.doc_id"))
      .select(least(col("s.doc_id"), col("nw.doc_id")).as("doc_a"),
        greatest(col("s.doc_id"), col("nw.doc_id")).as("doc_b"))
    val cand = within.union(cross)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__shared"))
      .join(rareAll.select(col("doc_id").as("doc_a"), col("rare").as("__ra"),
        col("len").as("__la")), Seq("doc_a"))
      .join(rareAll.select(col("doc_id").as("doc_b"), col("rare").as("__rb"),
        col("len").as("__lb")), Seq("doc_b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist &&
        col("__shared") >=
          greatest(col("__ra"), col("__rb")) - maxDist * (n + 1))
      .select("doc_a", "doc_b")
    val allTexts = storeTexts.union(newTexts)
    val pairs = cand
      .join(allTexts.select(col("doc_id").as("doc_a"),
        col("text").as("__ta")), Seq("doc_a"))
      .join(allTexts.select(col("doc_id").as("doc_b"),
        col("text").as("__tb")), Seq("doc_b"))
      // threshold form (banded DP, -1 past the bound) via the native
      // byte-array loop — keeps the batch twin's confirm semantics
      // exactly; see TextPipeline's confirm note
      .withColumn("dist",
        graft.expressions.TextExpressions.levenshteinBanded(
          col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
    EdBatch(pairs, newInv.select("doc_id", "h"), newMeta, newTexts, batchDfs,
      () => {
        hot.foreach(_.unpersist())
        batchKeys.unpersist()
        newInv.unpersist()
      })
  }

  // ----- span scheme (duplicate k-gram positions) -------------------------

  /** Span-dedup ingest — the incremental face of
    * [[TextPipeline.dupSpans]]: emit every (doc_id, pos) whose k-gram
    * becomes duplicated AT THIS INGEST, exactly once across increments,
    * so the union of all increments' outputs equals the batch
    * operator's position set over the union of all batches
    * (spec-pinned and oracle-checked).
    *
    * Two append-only tables make that cheap against a 100 TB history:
    * `grams` (doc_id, pos, h) and `hcounts` (h, cnt) — per-batch
    * PARTIAL counts whose sum is the store count, so the ingest's
    * count lookup aggregates the compact counts table (join-pruned to
    * the batch's hashes, broadcast), never the gram inventory. Emission
    * rule per batch hash with store count s and batch count b:
    * batch occurrences emit when s + b > 1; the store's occurrence
    * emits only when s == 1 (its gram was unique until now — s ≥ 2
    * means earlier ingests already emitted it), fetched from `grams`
    * by the (rare by definition) singles hash set. Hot boilerplate
    * grams therefore cost b rows per batch and one counts row —
    * never a store-wide scan. */
  def ingestSpans(dir: String, docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val newGrams = TextPipeline.spanGramsOf(docs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchCounts = newGrams.groupBy("h").agg(count(lit(1)).as("b"))
    val hcountSchema = StructType(Seq(
      StructField("h", LongType), StructField("cnt", LongType)))
    val storeCounts = snapshot(spark, dir, "hcounts", hcountSchema)
      .join(broadcast(batchCounts.select("h")), Seq("h"))
      .groupBy("h").agg(sum("cnt").as("s"))
    // j feeds TWO broadcast subqueries (the s+b>1 and s==1 hash sets);
    // persisted so the hcounts-store scan + pruning join run once, not
    // twice, per increment — j is one row per batch hash, tiny
    val j = batchCounts.join(storeCounts, Seq("h"), "left")
      .na.fill(0L, Seq("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emitBatch = newGrams
      .join(broadcast(j.filter(col("s") + col("b") > 1).select("h")), Seq("h"))
      .select("doc_id", "pos")
    val gramSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("pos", org.apache.spark.sql.types.IntegerType),
      StructField("h", LongType)))
    val singles = snapshot(spark, dir, "grams", gramSchema)
      .join(broadcast(j.filter(col("s") === 1).select("h")), Seq("h"))
      .select("doc_id", "pos")
    val result = emitBatch.union(singles).localCheckpoint(true)
    // grams and hcounts publish under ONE marker: grams without their
    // counts understate s at every later ingest, silently violating the
    // exactly-once emission rule
    val id = freshIngestId()
    stage(newGrams, dir, "grams", id)
    stage(batchCounts.select(col("h"), col("b").as("cnt")),
      dir, "hcounts", id)
    commitIngest(spark, dir, id)
    j.unpersist()
    newGrams.unpersist()
    result
  }

  // ----- embedding scheme (cosine-confirmed sign-LSH candidates) ----------

  /** Embedding ingest: banded sign-LSH candidate pairing plus the exact
    * cosine confirmation (old vectors read from the payload store).
    * Output (vec_a, vec_b, cosine) — batch twin:
    * [[Similarity.annLshBanded]]. */
  def ingestEmbeddings(dir: String, embeddings: DataFrame, planes: Int,
                       bands: Int, minCosine: Double,
                       maxBucket: Long = 0L,
                       tileTarget: Long = 0L): DataFrame = {
    val spark = embeddings.sparkSession
    val newVecs = embeddings
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newKeys = newVecs
      .withColumn("signs", Similarity.lshSignBits(col("vec"), planes))
      .select(col("vec_id"),
        explode(Similarity.lshBandKeys(col("signs"), planes, bands)).as("bucket"))
      // read twice (pair branches + the store staging): persisted so the
      // per-plane sign pass runs once per increment
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val storeKeys = snapshot(spark, dir, "keys", keySchema("vec_id"))
    val pairs =
      keyedPairs(storeKeys, newKeys, "vec_id", "vec_a", "vec_b", maxBucket,
        tileTarget)
    val vecs = snapshot(spark, dir, "vecs", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .union(newVecs)
    val result = pairs
      .join(vecs.select(col("vec_id").as("vec_a"), col("vec").as("va")),
        Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("vec").as("vb")),
        Seq("vec_b"))
      .withColumn("cosine",
        round(graft.expressions.VectorExpressions.cosine(col("va"), col("vb")), 4))
      .filter(col("cosine") >= minCosine)
      .select("vec_a", "vec_b", "cosine")
      .localCheckpoint(true)
    // keys and vecs publish under ONE marker: keys-without-vecs would
    // silently drop every future pair against this batch at the cosine
    // confirm join
    val id = freshIngestId()
    stage(newKeys, dir, "keys", id)
    stage(newVecs, dir, "vecs", id)
    commitIngest(spark, dir, id)
    newKeys.unpersist()
    newVecs.unpersist()
    result
  }

  // ----- semantic scheme (cluster-scoped cosine pairs, SemDeDup) ----------

  /** Semantic ingest — the incremental face of [[Similarity.semDedup]]:
    * cluster-key candidate pairing against a FROZEN coarse quantizer
    * plus the exact cosine confirmation. The quantizer is derived from
    * the FIRST batch ([[Similarity.collectedSample]]) and persisted in
    * the store (`cents`), so every later increment assigns against the
    * same centroids and buckets agree across increments by construction
    * — the frozen-codebook posture of [[IvfPqIndex.append]] (batch
    * semDedup instead re-derives centroids from the whole corpus; at
    * 100 TB the quantizer is trained once and appended against).
    *
    * Output (vec_a, vec_b, cosine), each candidate pair exactly once
    * across increments — the compaction input whose loser side
    * (higher id, [[Similarity.semDedup]]'s keep rule) is dropped
    * downstream. The confirm threshold applies at round-6 cosine —
    * exactly [[Similarity.semDedup]]'s — so incremental and batch
    * decisions agree at the boundary; the emitted cosine column keeps
    * the scheme-wide round-4 convention. Here `maxBucket`/`tileTarget`
    * guard hot CLUSTERS rather than hash buckets, on the same two
    * branches as every other scheme (the cluster id is the bucket
    * key). An EMPTY first increment returns no pairs and leaves the
    * store quantizer-less (a later non-empty increment derives it) —
    * freezing an empty centroid set would silently emit nothing
    * forever. */
  def ingestSemantic(dir: String, embeddings: DataFrame, nlist: Int,
                     minCosine: Double, maxBucket: Long = 0L,
                     tileTarget: Long = 0L): DataFrame = {
    val spark = embeddings.sparkSession
    val newVecs = embeddings
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centPath = new Path(s"$dir/cents")
    val fs = fsOf(spark, centPath)
    val centRows: Array[org.apache.spark.sql.Row] =
      if (!fs.exists(centPath)) {
        val c = Similarity.collectedSample(newVecs, nlist)
        val rows = c.collect() // tiny by construction (≤ nlist rows)
        // freeze only a REAL quantizer: an EMPTY first increment must
        // not brick the scheme into zero-centroid assignments forever —
        // leave the store quantizer-less and let a later non-empty
        // increment derive it. Torn-write-proof: the centroids land
        // under a temp sibling and publish via one atomic rename, so a
        // crash mid-write leaves cents absent (re-derived next run),
        // never half-present
        if (rows.nonEmpty) {
          val tmp = new Path(s"$dir/.cents_tmp")
          fs.delete(tmp, true) // stale leftover from a crashed prior run
          c.write.mode("overwrite").parquet(tmp.toString)
          if (!fs.rename(tmp, centPath))
            throw new java.io.IOException(
              s"failed to publish quantizer: rename $tmp -> $centPath")
        }
        rows
      } else {
        // tiny by construction; collected once and re-injected below
        spark.read.parquet(centPath.toString).collect()
      }
    if (centRows.isEmpty) {
      // no quantizer (empty first increment): nothing can pair yet
      newVecs.unpersist()
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("vec_a", LongType), StructField("vec_b", LongType),
          StructField("cosine", org.apache.spark.sql.types.DoubleType))))
    } else {
      // re-inject as a local relation so the assignment broadcast builds
      // task-free, same plan shape on first and later ingests
      val cents = spark.createDataFrame(
        java.util.Arrays.asList(centRows: _*),
        spark.read.parquet(centPath.toString).schema)
      // same argmax as Similarity.semDedup: highest round-6 cosine, then
      // lowest cid — assignments are identical given identical centroids.
      // Persisted: the assignment pass (crossJoin + shuffle) feeds both
      // the pair branches and the store staging
      val newKeys = newVecs.crossJoin(broadcast(cents))
        .withColumn("csim",
          round(graft.expressions.VectorExpressions.cosine(
            col("vec"), col("cvec")), 6))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"))
        .select(col("vec_id"), col("cid").cast("string").as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val storeKeys = snapshot(spark, dir, "keys", keySchema("vec_id"))
      val pairs =
        keyedPairs(storeKeys, newKeys, "vec_id", "vec_a", "vec_b", maxBucket,
          tileTarget)
      val vecs = snapshot(spark, dir, "vecs", StructType(Seq(
          StructField("vec_id", LongType),
          StructField("vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
        .union(newVecs)
      // the CONFIRM threshold applies at round-6 — the batch twin
      // [[Similarity.semDedup]]'s exact rounding, so incremental and
      // batch decisions agree at the boundary (a 0.8499960 cosine is
      // below minCosine=0.85 on BOTH paths; the previous round-4 confirm
      // flipped it). The emitted cosine column keeps the scheme-wide
      // round-4 display convention
      val rawCos = graft.expressions.VectorExpressions.cosine(
        col("va"), col("vb"))
      val result = pairs
        .join(vecs.select(col("vec_id").as("vec_a"), col("vec").as("va")),
          Seq("vec_a"))
        .join(vecs.select(col("vec_id").as("vec_b"), col("vec").as("vb")),
          Seq("vec_b"))
        .filter(round(rawCos, 6) >= minCosine)
        .withColumn("cosine", round(rawCos, 4))
        .select("vec_a", "vec_b", "cosine")
        .localCheckpoint(true)
      // keys and vecs publish under ONE marker (see ingestEmbeddings)
      val id = freshIngestId()
      stage(newKeys, dir, "keys", id)
      stage(newVecs, dir, "vecs", id)
      commitIngest(spark, dir, id)
      newKeys.unpersist()
      newVecs.unpersist()
      result
    }
  }
}
