package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines at 100 TB scale.
  *
  * Media payloads are opaque `BinaryType` columns carried next to a typed
  * metadata struct — the layout a large multimodal corpus uses (content
  * inline or via reference, metadata queryable without touching bytes).
  * Catalyst column pruning means metadata-only queries never deserialize
  * the blobs; predicate pushdown on `meta.*` prunes row groups before any
  * byte is read.
  *
  * DECODE IS A DETERMINISTIC STUB: the engine ships no codec libraries,
  * so the "decode" step ([[decodeFeatures]], [[frameSample]]) computes
  * deterministic byte-level features (length, md5, byte sums) instead of
  * pixels/samples. The Spark-side plumbing — schema, partitioning, frame
  * explode shape — is real and oracle-tested; a production deployment
  * swaps the feature expression for a codec call with no change to the
  * surrounding plan.
  */
object Multimodal {

  val mimes: Seq[String] = Seq("image/png", "audio/wav", "video/mp4")

  /** Synthesize the media table from the documents corpus: blob = UTF-8
    * bytes of the text, metadata derived deterministically from doc_id.
    * Stands in for `spark.read.format("binaryFile")` / a parquet corpus
    * with a binary column. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("media"),
      struct(
        element_at(typedLit(mimes), (col("doc_id") % 3 + 1).cast("int")).as("mime"),
        (lit(16) + col("doc_id") % 64).cast("int").as("width"),
        (lit(16) + col("doc_id") % 48).cast("int").as("height"))
        .as("meta"))

  /** Exact media dedup by content digest — [[graft.pipeline.TextPipeline
    * .dedupExactByHash]] for the binary tier: the blobs themselves never
    * move, only their 16-byte md5 keys shuffle (at 100 TB of media that
    * is the whole ballgame; collision probability is negligible at any
    * corpus size). Keeps the smallest media_id per distinct content. */
  def dedupMedia(mediaDf: DataFrame): DataFrame =
    mediaDf.groupBy(md5(col("media")).as("media_md5"))
      .agg(min("media_id").as("media_id"), count(lit(1)).as("dup_count"))
      .select("media_id", "dup_count")

  /** Perceptual-hash halves per media row: `(media_id, ph_hi, ph_lo)` —
    * the codegen'd 64-block hash computed inside the scan, so only two
    * 8-byte values per blob leave the stage. */
  def phashFrame(mediaDf: DataFrame): DataFrame =
    mediaDf
      .select(col("media_id"),
        graft.expressions.TextExpressions.mediaPhash(col("media")).as("__ph"))
      .select(col("media_id"),
        element_at(col("__ph"), 1).as("ph_hi"),
        element_at(col("__ph"), 2).as("ph_lo"))

  /** NEAR-dup media candidates — the simhash discipline on the binary
    * tier ([[dedupMedia]] only catches bit-exact copies; a re-encoded
    * thumbnail or a padded variant needs distance): band the 64-bit
    * hash into four exact-match 16-bit keys, self-join per band,
    * confirm by Hamming distance (`bit_count(xor)` on the halves).
    * Pigeonhole guarantee: any pair with Hamming ≤ 3 shares at least
    * one exact band — full recall there; larger `maxHamming` has the
    * standard banded-LSH partial recall. Blobs never join: only
    * (band, id) pairs shuffle, and `maxBucket` drops degenerate band
    * buckets (the d² guard every candidate generator here carries).
    * The cap defaults FINITE: a corpus of constant-intensity or empty
    * blobs hashes every one of them to the same signature, and an
    * uncapped run would explode that bucket quadratically. Dropping a
    * degenerate bucket loses a pair only when EVERY band the pair
    * shares is degenerate — for bit-identical blobs (all four bands
    * shared) that is [[dedupMedia]]'s job, not a near-dup miss. Pass
    * `maxBucket = 0` to disable explicitly. */
  def phashCandidates(mediaDf: DataFrame, maxHamming: Int = 3,
                      maxBucket: Long = 4096L): DataFrame = {
    val ph = phashFrame(mediaDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both 8-byte hash halves ride the band explode so the Hamming
    // confirm runs INSIDE the band-bucket self-join (the simhash r19
    // bucket-local reshape): the former shape re-attached them per PAIR
    // with two pair-keyed joins after the distinct — at pair volumes
    // those two shuffles dominate, and the filter-before-distinct
    // shrinks the dedup exchange to confirmed pairs only. Hamming is a
    // function of the pair, so filter∘distinct ≡ distinct∘filter.
    val bands = ph.select(col("media_id"), col("ph_hi"), col("ph_lo"),
      posexplode(array(
        shiftright(col("ph_hi"), 16), col("ph_hi").bitwiseAND(lit(65535L)),
        shiftright(col("ph_lo"), 16), col("ph_lo").bitwiseAND(lit(65535L))))
      .as(Seq("band_idx", "band_val")))
    val kept =
      if (maxBucket <= 0L) bands
      else bands.join(
        bands.groupBy("band_idx", "band_val")
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
          .select("band_idx", "band_val"),
        Seq("band_idx", "band_val"), "left_semi")
    kept.as("a").join(kept.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"),
        col("b.media_id").as("media_b"),
        expr("cast(bit_count(a.ph_hi ^ b.ph_hi) + bit_count(a.ph_lo ^ b.ph_lo) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("media_a", "media_b", "hamming")
  }

  /** Byte values of a blob as array<long> via its hex dump. The hex string
    * is referenced once (argument position, not inside a per-element
    * lambda — see TextFunctions.tokens for why that matters). */
  def byteValues(media: Column): Column = {
    def hexDigit(c: Column): Column = {
      val d = ascii(c)
      when(d >= 65, d - 55).otherwise(d - 48).cast("long")
    }
    transform(
      regexp_extract_all(hex(media), lit(".."), lit(0)),
      p => hexDigit(substring(p, 1, 1)) * 16L + hexDigit(substring(p, 2, 1)))
  }

  /** STUB decode + feature-extract (real pipeline: image decode → pixel
    * stats / embedding). Deterministic byte-level features. */
  def decodeFeatures(media: Column): Column = {
    val bytes = byteValues(media)
    val byteSum = aggregate(bytes, lit(0L), (acc, b) => acc + b)
    struct(
      length(media).as("n_bytes"),
      md5(media).as("checksum"),
      byteSum.as("byte_sum"))
  }

  /** STUB "resize"/transcode: truncate to `targetBytes` (real pipeline:
    * scale the image / re-encode). Plan shape (projection over binary)
    * is identical to the real op. */
  def resizeStub(media: Column, targetBytes: Int): Column =
    media.substr(lit(1), lit(targetBytes))

  /** Fixed-size frame sampling (video frame extraction / audio windowing
    * shape): full windows of `frameBytes` every `stride` bytes, exploded
    * one row per frame. The blob is a row attribute inside the transform
    * lambda (O(1) access), so this is linear in output size. */
  def frameSample(mediaDf: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames =
      when(length(col("media")) < frameBytes, 0)
        .otherwise(
          // Column `/` is double division; truncate (non-negative) to floor
          ((length(col("media")) - frameBytes) / stride).cast("int") + 1)
    // guard: sequence(0, -1) would generate a DESCENDING sequence
    val frames =
      when(nFrames <= 0, array().cast("array<binary>")).otherwise(
        transform(
          sequence(lit(0), nFrames - 1),
          i => col("media").substr(i * stride + 1, lit(frameBytes))))
    mediaDf
      .select(col("media_id"), posexplode(frames).as(Seq("frame_idx", "frame")))
      .select(
        col("media_id"),
        col("frame_idx"),
        length(col("frame")).as("frame_len"),
        md5(col("frame")).as("frame_md5"))
  }

  // --- content-defined chunking (storage-dedup tier) --------------------

  /** Content-defined chunk inventory of each blob: one row per chunk with
    * its 1-based offset, length, and content digest. Boundaries come from
    * [[graft.expressions.TextExpressions.cdcChunks]] (local-window rolling
    * hash — LBFS/FastCDC pattern), so inserting bytes into a blob shifts
    * every byte yet re-synchronizes the chunk stream after at most one
    * chunk; chunk-level dedup then reclaims the shared tail that
    * [[dedupMedia]]'s whole-blob digests cannot see. The boundary scan is
    * a codegen'd expression inside the scan stage; only (id, off, len,
    * md5) rows — never blob bytes — reach the shuffle.
    *
    * Unit discipline: a BinaryType `media` column chunks in BYTE units
    * with no UTF-8 assumption (the production path for real blobs); a
    * StringType column chunks in CODE-POINT units. Both compute
    * boundaries and extract chunks in the SAME unit — the boundary scan
    * and `substr` agree for all of Unicode, not just the BMP. A caller
    * holding UTF-8 TEXT media that wants code-point (oracle-portable)
    * chunking casts to string explicitly. */
  def cdcChunkFrame(mediaDf: DataFrame, w: Int = 8, divisor: Long = 32): DataFrame = {
    val blob = col("media")
    mediaDf
      .select(col("media_id"),
        posexplode(graft.expressions.TextExpressions.cdcChunks(blob, w, divisor))
          .as(Seq("chunk_idx", "c")),
        blob.as("t"))
      .select(col("media_id"), col("chunk_idx"),
        col("c.off").as("off"), col("c.len").as("len"),
        md5(col("t").substr(col("c.off"), col("c.len"))).as("chunk_md5"))
  }

  /** Chunk store after dedup: each distinct chunk content once, with its
    * reference count and the lowest (media_id, off) holding it — the
    * storage-side dedup table (ref_count × len is the reclaimed volume).
    * One hash aggregate on the 16-byte digest; map-side combine collapses
    * popular chunks before the exchange. The lexicographic argmin is
    * packed into one long (`media_id·2³² + off`) so every aggregate
    * buffer field stays a mutable primitive and the plan keeps
    * HashAggregate — min(struct(...)) / min_by(struct) fall back to
    * SortAggregate. Requires media_id < 2³¹ (contiguous ids from
    * [[graft.scale.Ids.assign]] satisfy this) and off < 2³². */
  def cdcDedup(mediaDf: DataFrame, w: Int = 8, divisor: Long = 32): DataFrame =
    cdcChunkFrame(mediaDf, w, divisor)
      .groupBy("chunk_md5")
      .agg(min("len").as("len"),
        count(lit(1)).as("ref_count"),
        min(col("media_id") * (1L << 32) + col("off")).as("packed"))
      .select(col("chunk_md5"), col("len"), col("ref_count"),
        shiftright(col("packed"), 32).as("media_id"),
        col("packed").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("off"))

  /** One-row storage report over the chunk store: logical vs stored bytes
    * and the dedup ratio a capacity planner reads. */
  def cdcStats(mediaDf: DataFrame, w: Int = 8, divisor: Long = 32): DataFrame =
    cdcDedup(mediaDf, w, divisor)
      .agg(count(lit(1)).as("unique_chunks"),
        sum("ref_count").as("total_chunks"),
        sum(col("len") * col("ref_count")).as("logical_bytes"),
        sum("len").as("stored_bytes"))
      .select(col("unique_chunks"), col("total_chunks"),
        col("logical_bytes"), col("stored_bytes"),
        round(col("logical_bytes") / col("stored_bytes"), 4).as("dedup_ratio"))
}
