package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for large-scale corpus pipelines + reference X10/X11.
  *
  * Everything is built-in `Column` composites (higher-order array functions)
  * — codegen-compatible, no UDFs, and each has a portable-SQL twin used by
  * the DuckDB oracles in SparkEntry.
  */
object TextFunctions {

  /** Shannon entropy (bits/char) of a string — reference
    * element_entropy.py:30-40. O(distinct·len) via array ops; fine for
    * short keys (domains); for long documents prefer [[tokenEntropy]]. */
  def charEntropy(s: Column): Column = {
    val chars = split(s, "")
    val n = size(chars).cast("double")
    // sorted distinct chars: pins the floating-point summation order so
    // independent implementations (the DuckDB oracle) get identical bits
    val counts = transform(array_sort(array_distinct(chars)),
      c => size(filter(chars, x => x === c)).cast("double"))
    -aggregate(counts, lit(0.0d), (acc, c) => acc + (c / n) * log2(c / n))
  }

  /** Whitespace token count. */
  def tokenCount(s: Column): Column =
    when(length(trim(s)) === 0, 0).otherwise(size(split(trim(s), "\\s+")))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric-non-space chars (crude GPT-style pretokenizer). */
  def subwordCount(s: Column): Column =
    size(regexp_extract_all(s, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation chars to total (0 for empty). */
  def punctRatio(s: Column): Column =
    when(length(s) === 0, 0.0d).otherwise(
      size(regexp_extract_all(s, lit("[!-/:-@\\[-`{-~]"), lit(0))).cast("double")
        / length(s))

  /** Lower-cased whitespace tokens of a document.
    *
    * PERFORMANCE: a non-trivial Column referenced inside a higher-order
    * lambda (e.g. `element_at(toks, i)` in a per-element position loop) is
    * re-evaluated on EVERY element access — O(len²) per row. Composite
    * expressions here therefore only ever reference their input arrays a
    * constant number of times per row (zip_with folds, whole-array slices),
    * never per element. Measured 13.5 s → ~1 s on sf0.1 shingling. */
  def tokens(s: Column): Column =
    filter(split(lower(trim(s)), "\\s+"), t => length(t) > 0)

  /** Fraction of tokens present in `stopwords` (tokens pre-materialized). */
  def stopwordRatioFromTokens(toks: Column, stopwords: Seq[String]): Column =
    when(size(toks) === 0, 0.0d).otherwise(
      size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double")
        / size(toks))

  /** Quality score from pre-materialized raw ratios (hot-path form). */
  def qualityFromRaw(len: Column, punctRaw: Column, stopRaw: Column): Column = {
    val lenScore  = least(len.cast("double") / 500.0d, lit(1.0d))
    val punctPen  = greatest(lit(0.0d), lit(1.0d) - punctRaw * 5.0d)
    val stopScore = least(stopRaw * 4.0d, lit(1.0d))
    round((lenScore + punctPen + stopScore) / 3.0d, 6)
  }

  /** Deterministic 47-bit polynomial rolling-hash fingerprint of a string:
    * h = Σ h*31 + code(c), mod 2^47-115. Portable: same arithmetic is
    * expressible in ANSI SQL (list_reduce in DuckDB) for oracle checks. */
  def fingerprint(s: Column): Column = {
    val mod = 140737488355213L // 2^47 - 115 (prime); *31 stays within Long
    aggregate(
      transform(sequence(lit(1), length(s)), i => ascii(substr(s, i, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % mod)
  }

  /** Dedup-canonical form (the CCNet/RefinedWeb-style normalization
    * applied before exact hashing): lowercase, ASCII punctuation →
    * space (same class as [[punctRatio]]), whitespace collapsed,
    * trimmed — so trivially-reformatted copies hash identically. Pure
    * codegen'd built-ins; the same chain is expressible in DuckDB
    * (`regexp_replace(…, 'g')`) for oracle checks. */
  def normalizeForDedup(s: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(s), "[!-/:-@\\[-`{-~]", " "), "\\s+", " "))

  /** Word n-gram shingles from a token column.
    *
    * Built as a fold of `zip_with` over k-shifted copies of the array:
    * position i pairs toks[i] with toks[i+1], …, toks[i+n-1]. Each shifted
    * copy evaluates `toks` once per ROW (never per element — see [[tokens]]).
    * `concat_ws` skips the nulls zip_with pads with, producing short
    * shingles in the last n-1 slots; the final slice drops them. */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    if (n == 1) toks
    else {
      val joined = (1 until n).foldLeft(toks) { (acc, k) =>
        zip_with(acc, slice(toks, lit(k + 1), size(toks)), (a, b) => concat_ws(" ", a, b))
      }
      slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(0)))
    }
  }

  /** Word n-gram shingles (space-joined) of a document. */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Language ID from a pre-materialized token column. */
  def langIdFromTokens(toks: Column, profiles: Map[String, Seq[String]]): Column = {
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words.map(lit): _*))).as("hits"),
             lit(lang).as("lang"))
    }
    // max by (hits, then reverse-alphabetical lang loses): sort desc on hits,
    // asc on lang via struct compare with negated hits
    element_at(
      sort_array(array(scored.map(s0 =>
        struct((-s0.getField("hits")).as("neg"), s0.getField("lang").as("lang"))): _*)),
      1).getField("lang")
  }
}
