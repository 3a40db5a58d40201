package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.pipeline.IncrementalDedup

/** Streaming face of the incremental corpus-dedup tier: documents arrive
  * on a stream (Kafka / file source), each micro-batch is checked for
  * near-duplicate candidates against everything already ingested, and
  * both the emitted pairs AND the band-key store advance exactly-once.
  *
  * The batch-side [[graft.pipeline.IncrementalDedup.ingest]] appends its
  * keys with a bare parquet write — correct for a driver-invoked batch
  * loop, but foreachBatch REPLAYS the last batch after a restart, so here
  * both writes go through [[ResultSink.writeBatchIdempotent]] partitions
  * and the store is read back with [[ResultSink.readCommitted]]:
  *
  *  - a replayed batch finds its pair partition committed → skipped;
  *  - a torn key write (crash before marker) is invisible to readers and
  *    is overwritten whole by the replay;
  *  - the candidate join excludes the batch's OWN key partition by
  *    batch_id, so a replay that already committed its keys still pairs
  *    against exactly the pre-batch store — emission stays exactly-once
  *    under every crash point, not just the happy path.
  *
  * Scale: identical to the batch ingest — the store side is never
  * re-shingled (band keys only), the new side is broadcast into the
  * store join, and the within-batch self-join honors the same
  * maxBucket/tileTarget hot-bucket guards.
  */
object CurationStream {

  /** One micro-batch: emit candidate pairs for `batch` against the
    * committed store (and within the batch), then commit the batch's
    * band keys. Idempotent per (batchId): safe under foreachBatch
    * replay. Returns true when the batch did work (false = replay skip).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, storeDir: String,
                  pairsPath: String, n: Int = 3, k: Int = 16,
                  bands: Int = 4, maxBucket: Long = 0L,
                  tileTarget: Long = 0L,
                  normalize: Option[String] = None): Boolean = {
    val spark = batch.sparkSession
    val keysPath = s"$storeDir/keys"
    // optional normalization pre-pass (CurateApp --normalize's streaming
    // face): stateless projection fused into the batch scan, so the
    // store only ever holds keys of CANONICAL text — composed vs
    // decomposed spellings of one document land in the same buckets
    val canon = normalize.map(f => batch.withColumn("text",
      graft.pipeline.TextPipeline.normalizeTextCol(col("text"), f)))
      .getOrElse(batch)
    val newKeys = IncrementalDedup.index(canon, n, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val store = {
        val committed = ResultSink.readCommitted(spark, keysPath)
        if (committed.columns.isEmpty) committed // empty store, no schema
        else committed.filter(col("batch_id") =!= batchId)
          .select("doc_id", "bucket")
      }
      val storeOrEmpty =
        if (store.columns.isEmpty)
          newKeys.filter(lit(false)) // schema-shaped empty frame
        else store
      val pairs = IncrementalDedup.keyedPairs(storeOrEmpty, newKeys,
        "doc_id", "doc_a", "doc_b", maxBucket, tileTarget)
      val wrote = ResultSink.writeBatchIdempotent(pairs, batchId, pairsPath)
      ResultSink.writeBatchIdempotent(newKeys, batchId, keysPath)
      wrote
    } finally newKeys.unpersist()
  }

  /** One winnowing micro-batch — [[ingestBatch]]'s twin for the
    * shared-fingerprint overlap scheme ([[IncrementalDedup.ingestWinnow]]):
    * same exactly-once discipline (committed-store read with batch_id
    * self-exclusion, idempotent pair + key commits), with the exact
    * shared COUNT computed at emission via the shared
    * [[IncrementalDedup.winnowPairsCore]]. Fingerprints come from the
    * zero-shuffle native expression, so the per-batch cost is one scan
    * of the batch plus the store bucket join. */
  def ingestWinnowBatch(batch: DataFrame, batchId: Long, storeDir: String,
                        pairsPath: String, k: Int = 5, w: Int = 4,
                        minShared: Long = 2L, maxDocs: Long = 0L): Boolean = {
    val spark = batch.sparkSession
    val keysPath = s"$storeDir/winnow_keys"
    val newKeys = graft.pipeline.TextPipeline
      .winnowFingerprintsNative(batch, k, w)
      .select(col("doc_id"), col("fp").cast("string").as("bucket")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val store = {
        val committed = ResultSink.readCommitted(spark, keysPath)
        if (committed.columns.isEmpty) committed
        else committed.filter(col("batch_id") =!= batchId)
          .select("doc_id", "bucket")
      }
      val storeOrEmpty =
        if (store.columns.isEmpty) newKeys.filter(lit(false))
        else store
      val pairs = IncrementalDedup.winnowPairsCore(storeOrEmpty, newKeys,
        minShared, maxDocs)
      val wrote = ResultSink.writeBatchIdempotent(pairs, batchId, pairsPath)
      ResultSink.writeBatchIdempotent(newKeys, batchId, keysPath)
      wrote
    } finally newKeys.unpersist()
  }

  /** Streaming winnow overlap pairs — wire a streaming docs frame
    * through [[ingestWinnowBatch]]. */
  def winnowPairs(docs: DataFrame, storeDir: String, pairsPath: String,
                  k: Int = 5, w: Int = 4, minShared: Long = 2L,
                  maxDocs: Long = 0L,
                  trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    ResultSink.foreachBatch(docs, trigger) { (b, id) =>
      ingestWinnowBatch(b, id, storeDir, pairsPath, k, w, minShared, maxDocs)
      ()
    }

  /** One URL-dedup micro-batch — the crawl-frontier face of
    * [[graft.pipeline.UrlCuration.urlDedup]]: canonicalize the batch's
    * URLs, emit every document whose canonical URL already has a keeper
    * (in the committed store, or a lower doc_id within this batch), and
    * commit the batch's NEW canonical URLs with their keepers. Union of
    * all batches' emissions = the batch operator's drop list whenever
    * doc_ids arrive in order (the keeper is first-seen, min-per-batch);
    * same exactly-once discipline as [[ingestBatch]] (committed-store
    * read with batch_id self-exclusion, idempotent emission + key
    * commits — a replay pairs against exactly the pre-batch store).
    *
    * Scale: the store is touched only by one equi-join on the canonical
    * string per batch (batch side is micro-batch-sized; AQE broadcasts
    * it); nothing document-sized persists beyond (url_canon, keeper). */
  def urlDedupBatch(batch: DataFrame, batchId: Long, storeDir: String,
                    dupsPath: String): Boolean = {
    val spark = batch.sparkSession
    val keysPath = s"$storeDir/url_keys"
    val canon = batch
      .select(col("doc_id"),
        graft.pipeline.UrlCuration.canonicalizeUrl(col("url")).as("url_canon"))
      .filter(col("url_canon").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val store = {
        val committed = ResultSink.readCommitted(spark, keysPath)
        if (committed.columns.isEmpty) committed
        else committed.filter(col("batch_id") =!= batchId)
          .select("url_canon", "keeper")
      }
      val storeOrEmpty =
        if (store.columns.isEmpty)
          canon.select(col("url_canon"), col("doc_id").as("keeper"))
            .filter(lit(false))
        else store
      val bmin = canon.groupBy("url_canon").agg(min("doc_id").as("bmin"))
      val dups = canon
        .join(storeOrEmpty, Seq("url_canon"), "left")
        .join(bmin, Seq("url_canon"))
        .withColumn("keep", coalesce(col("keeper"), col("bmin")))
        .filter(col("doc_id") =!= col("keep"))
        .select(col("doc_id"), col("url_canon"), col("keep").as("keeper"))
      val newKeys = bmin
        .join(storeOrEmpty, Seq("url_canon"), "left_anti")
        .select(col("url_canon"), col("bmin").as("keeper"))
      val wrote = ResultSink.writeBatchIdempotent(dups, batchId, dupsPath)
      ResultSink.writeBatchIdempotent(newKeys, batchId, keysPath)
      wrote
    } finally canon.unpersist()
  }

  /** Streaming URL dedup — wire a streaming (doc_id, url) frame through
    * [[urlDedupBatch]]. */
  def urlDups(docs: DataFrame, storeDir: String, dupsPath: String,
              trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    ResultSink.foreachBatch(docs, trigger) { (b, id) =>
      urlDedupBatch(b, id, storeDir, dupsPath)
      ()
    }

  /** Streaming corpus-drift monitor: each arriving micro-batch is scored
    * against a STATIC reference snapshot with
    * [[graft.pipeline.Curation.corpusDrift]] (per-source smoothed
    * unigram KL), one result row set per (batch, source) — the "alert
    * when a crawl batch stops looking like the corpus we tuned for"
    * probe, running where the data lands instead of in a nightly job.
    * The reference is batch-static by nature (same contract as
    * [[graft.pipeline.Curation.unigramNllStream]]'s LM side); emission
    * is idempotent per batch id, so a foreachBatch replay can't
    * double-report. */
  def driftPerBatch(docs: DataFrame, reference: DataFrame, outPath: String,
                    trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    ResultSink.foreachBatch(docs, trigger) { (b, id) =>
      ResultSink.writeBatchIdempotent(
        graft.pipeline.Curation.corpusDrift(reference, b), id, outPath)
      ()
    }

  /** The streaming pipeline: wire a streaming `docs` frame (doc_id,
    * text) through [[ingestBatch]]. Start with `.option(
    * "checkpointLocation", …).start()`; read results any time with
    * [[ResultSink.readCommitted]](spark, pairsPath). */
  def minhashPairs(docs: DataFrame, storeDir: String, pairsPath: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4,
                   maxBucket: Long = 0L, tileTarget: Long = 0L,
                   trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                   normalize: Option[String] = None)
      : DataStreamWriter[Row] =
    ResultSink.foreachBatch(docs, trigger) { (b, id) =>
      ingestBatch(b, id, storeDir, pairsPath, n, k, bands, maxBucket,
        tileTarget, normalize)
      ()
    }

  /** One edit-distance micro-batch — the foreachBatch face of
    * [[IncrementalDedup.ingestEditDistance]], sharing its
    * `editDistanceCore` (same blocking, both recall-safe prunes on
    * store-side ints, levenshtein confirm, visibility-scoped df cap
    * with retroactive re-censoring). Store discipline mirrors
    * [[ingestBatch]]: the four tables (keys/meta/texts/dfs) commit as
    * idempotent `batch_id` partitions, reads exclude the batch's OWN id
    * so a replay pairs against exactly the pre-batch store, and a torn
    * multi-table write is repaired by the replay (missing partitions
    * written, committed ones skipped) BEFORE any later batch can
    * observe it — foreachBatch replays in order from the checkpoint, so
    * keys-without-texts is never visible to a subsequent batch's
    * confirm join (the torn-write hazard the batch ingest's single
    * commit marker closes). Returns true when the batch did work. */
  def ingestEditDistanceBatch(batch: DataFrame, batchId: Long,
                              storeDir: String, pairsPath: String,
                              maxDist: Int, n: Int = 2,
                              maxDf: Long = 0L): Boolean = {
    val spark = batch.sparkSession
    def table(name: String, cols: Seq[String]): Option[DataFrame] = {
      val committed = ResultSink.readCommitted(spark, s"$storeDir/$name")
      if (committed.columns.isEmpty) None
      else Some(committed.filter(col("batch_id") =!= batchId)
        .select(cols.head, cols.tail: _*))
    }
    val store = for {
      k <- table("ed_keys", Seq("doc_id", "h"))
      m <- table("ed_meta", Seq("doc_id", "len", "total"))
      t <- table("ed_texts", Seq("doc_id", "text"))
      d <- table("ed_dfs", Seq("h", "cnt"))
    } yield (k, m, t, d)
    val core = IncrementalDedup.editDistanceCore(store, batch, maxDist, n,
      maxDf)
    try {
      val wrote = ResultSink.writeBatchIdempotent(core.pairs, batchId,
        pairsPath)
      ResultSink.writeBatchIdempotent(core.keys, batchId, s"$storeDir/ed_keys")
      ResultSink.writeBatchIdempotent(core.meta, batchId, s"$storeDir/ed_meta")
      ResultSink.writeBatchIdempotent(core.texts, batchId,
        s"$storeDir/ed_texts")
      ResultSink.writeBatchIdempotent(core.dfs, batchId, s"$storeDir/ed_dfs")
      wrote
    } finally core.release()
  }

  /** Streaming edit-distance fuzzy-dup pairs — wire a streaming docs
    * frame through [[ingestEditDistanceBatch]]. */
  def editDistancePairs(docs: DataFrame, storeDir: String, pairsPath: String,
                        maxDist: Int, n: Int = 2, maxDf: Long = 0L,
                        trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    ResultSink.foreachBatch(docs, trigger) { (b, id) =>
      ingestEditDistanceBatch(b, id, storeDir, pairsPath, maxDist, n, maxDf)
      ()
    }
}
