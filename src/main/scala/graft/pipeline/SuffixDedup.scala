package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** EXACT duplicated-substring detection via truncated prefix doubling —
  * the suffix-array route of Lee et al. 2021 (arXiv:2107.06499,
  * "Deduplicating Training Data Makes Language Models Better",
  * ExactSubstr), re-shaped for a shared-nothing cluster.
  *
  * [[graft.pipeline.TextPipeline.dupSpans]] finds duplicated k-grams by
  * HASH equality: every position ships a 47-bit hash of its k-token
  * window, so (a) two different windows can collide, and (b) the
  * resolution k is baked into the shingle materialization — length-50
  * spans mean hashing 50-token strings at every position. This operator
  * instead computes the suffix-equivalence classes at resolution
  * `minLen` directly:
  *
  *  - Round 0 groups positions by their TOKEN (the only round that
  *    shuffles strings); the class id is the class's minimum global
  *    position — ids only need to preserve EQUALITY, not lexicographic
  *    order, so a representative position replaces the usual sorted
  *    dense rank (no global sort in any round).
  *  - Each doubling round refines: class(pos) at resolution 2k =
  *    group-by (class(pos) at k, class(pos+k) at k). A position whose
  *    document ends within the window gets a UNIQUE id (its own negated
  *    position), which removes short suffixes from every later class —
  *    exactly right, since a duplicate needs `minLen` full tokens —
  *    and doubles as the document separator: no window can ever match
  *    across a document boundary, so no sentinel tokens are needed.
  *  - ceil(log2 minLen) rounds, then one overlapped combine
  *    (class(pos) at m + class(pos + minLen − m) at m, m = largest
  *    power of two ≤ minLen) pins the resolution to EXACTLY minLen —
  *    running the doubling one step further would over-refine and miss
  *    duplicates of length exactly minLen.
  *
  * Scale: every round after the first shuffles only (pos, classId)
  * longs — O(N) rows of 16 bytes regardless of `minLen`, vs the
  * O(N·minLen) characters the hashing route materializes map-side. A
  * round is two shuffles (the self-join at offset k, the class
  * group-by); the whole operator is ~2·log2(minLen) shuffles with no
  * window functions, no driver-side data, and map-side combine on every
  * group-by. Each round's frame is persisted and FORCED before the next
  * (the frame feeds two branches of the next round's join — lazy
  * evaluation would recompute the whole prefix twice per round,
  * exponential over rounds), then dropped; the final span frame is
  * local-checkpointed so no round stays pinned.
  *
  * Contract: positions are encoded doc_id·2^32 + idx (doc_id < 2^31,
  * ≤ 4·10^9 tokens/doc).
  */
object SuffixDedup {

  private val Shift = 4294967296L // 2^32

  /** Duplicated-span starts in the [[TextPipeline.dupSpans]] contract:
    * (doc_id, pos, occurrences) — one row per position that starts a
    * duplicated substring of ≥ `minLen` tokens, with its class size. */
  def exactDupSpans(docs: DataFrame, minLen: Int): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    val toks = docs
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("idx", "token")))
      .select((col("doc_id") * Shift + col("idx")).as("pos"), col("token"))
      .persist(MEMORY_AND_DISK) // read twice in round 0 — tokenize once

    // round 0: class id = min position among equal tokens
    var r = toks
      .join(toks.groupBy("token").agg(min("pos").as("rank")), Seq("token"))
      .select("pos", "rank")
      .persist(MEMORY_AND_DISK)
    r.count()
    toks.unpersist()
    var k = 1L

    /** r paired with itself at offset `off`: (pos, ra, rb). A position
      * with no row at pos+off (its document ends inside the window)
      * gets the unique id −pos−1 — never equal to any real class or to
      * another short suffix. */
    def paired(off: Long): DataFrame = {
      val shifted = r.select((col("pos") - off).as("pos"), col("rank").as("rb"))
      r.join(shifted, Seq("pos"), "left")
        .select(col("pos"), col("rank").as("ra"),
          coalesce(col("rb"), -col("pos") - 1).as("rb"))
    }

    while (k * 2 <= minLen) {
      val p = paired(k)
      val next = p
        .join(p.groupBy("ra", "rb").agg(min("pos").as("nrank")), Seq("ra", "rb"))
        .select(col("pos"), col("nrank").as("rank"))
        .persist(MEMORY_AND_DISK)
      next.count()
      r.unpersist()
      r = next
      k *= 2
    }
    // k = largest power of two ≤ minLen; overlapped combine to exactly
    // minLen unless k already is it
    val exact =
      if (k == minLen)
        r.select(col("pos"), col("rank").as("ra"), lit(0L).as("rb"))
      else paired(minLen - k)
    val out = exact
      .join(exact.groupBy("ra", "rb").agg(count(lit(1)).as("occurrences")),
        Seq("ra", "rb"))
      .filter(col("occurrences") > 1)
      .select((col("pos") / Shift).cast("long").as("doc_id"),
        (col("pos") % Shift).cast("int").as("pos"),
        col("occurrences"))
      .localCheckpoint(true)
    r.unpersist()
    out
  }
}
