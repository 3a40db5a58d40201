package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** A lazy operator result together with the persisted intermediates that
  * back it.
  *
  * The index-building operators persist an intermediate frame that several
  * downstream joins re-read. Because the returned DataFrame is lazy, that
  * cache necessarily outlives the call — Spark has no scope-based release
  * point for it. The `*Cached` variants (TextPipeline.nearDupJaccard /
  * editDistancePairs / minhashCandidates / simhashCandidates / dupSpans /
  * removeDupSpans, Similarity.annLshBanded / semDedup, Curation.
  * dsirWeights / dsirSelect) return this handle so a driver job looping
  * over many corpora can release each corpus's index deterministically
  * instead of letting MEMORY_AND_DISK residue accumulate until
  * `spark.catalog.clearCache()`. An operator gets a `*Cached` variant only
  * where a caller or spec releases the handle: Similarity.hybridDedup and
  * Multimodal.phashCandidates ship the plain form alone, and their frames
  * go with `spark.catalog.clearCache()`.
  *
  * `unpersist` does not invalidate `result`: a later action simply
  * recomputes the index (correct, just slower) — the same semantics as
  * unpersisting any Spark DataFrame.
  */
final class Cached[+T] private[graft] (val result: T, backing: Seq[DataFrame]) {

  /** Release every persisted intermediate backing `result`.
    * `blocking = true` waits for the blocks to actually drop — use it in
    * tests or when the next corpus's index must not compete for memory. */
  def unpersist(blocking: Boolean = false): this.type = {
    backing.foreach(_.unpersist(blocking))
    this
  }

  /** True while any backing frame is still marked persistent. */
  def isCached: Boolean =
    backing.exists(_.storageLevel != StorageLevel.NONE)
}

object Cached {
  def apply[T](result: T, backing: DataFrame*): Cached[T] =
    new Cached(result, backing)
}
