package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType columns (SURVEY.md §2.8 X12-X13 + the
  * embedding-similarity surface). Higher-order built-ins only — stays in
  * whole-stage codegen; no UDF boxing on the 100 TB path.
  */
object VectorFunctions {

  /** Σ a·b over two equal-length numeric arrays (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  /** Squared L2 distance Σ (a-b)² (left fold — summation order pinned,
    * SQL-portable). */
  def l2Squared(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** Cosine similarity (null-safe via 0-norm guard). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0d, 0.0d).otherwise(d / n)
  }

  /** Reference quadratic-form distance sqrt(Σ((v-p)/p)^2)
    * (simple_quadratic_form.py:30-41). */
  def quadraticFormDistance(v: Column, p: Column): Column =
    sqrt(aggregate(zip_with(v, p, (a, b) => pow((a - b) / b, 2.0d)),
      lit(0.0d), (acc, x) => acc + x))

  /** [[quadraticFormDistance]] unrolled for a STATICALLY-known feature
    * list and pattern: plain arithmetic instead of
    * `aggregate`/`zip_with`, because Spark's higher-order functions are
    * `CodegenFallback` — interpreted per row, and their presence knocks
    * the enclosing projection out of whole-stage codegen. The fold order
    * matches the HOF form exactly (left-to-right sum from 0.0), so the
    * doubles are bit-identical. */
  def quadraticFormDistanceUnrolled(xs: Seq[Column], w: Seq[Double]): Column = {
    require(xs.size == w.size, "feature/pattern length mismatch")
    sqrt(xs.zip(w).map { case (x, wi) =>
      pow((x - lit(wi)) / lit(wi), 2.0d)
    }.foldLeft(lit(0.0d))(_ + _))
  }

  /** Distance → bin index over ascending thresholds; value ≥ last threshold
    * falls in the last bin (pattern_finder.py:200-223). Unrolled to a
    * conditional sum (thresholds are always a short static list) so the
    * expression stays inside whole-stage codegen — `size(filter(...))`
    * is a CodegenFallback higher-order function. */
  def binIndex(dist: Column, thresholds: Seq[Double]): Column = {
    val idx = thresholds.map(t =>
      when(lit(t) <= dist, 1).otherwise(0)).reduce(_ + _)
    least(idx, lit(thresholds.size - 1))
  }

  /** Element-wise sum of two equal-length long arrays (A12 array agg). */
  def arraySum(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Portable 47-bit polynomial hash of each token in an array. */
  def tokenHashes(tokens: Column): Column = {
    val mod = 140737488355213L
    transform(tokens, t =>
      aggregate(
        transform(sequence(lit(1), length(t)), i => ascii(substr(t, i, lit(1))).cast("long")),
        lit(0L), (acc, c) => (acc * 31 + c) % mod))
  }

  /** SimHash from token hashes: bit k set iff Σ_tokens sign(bit k) > 0.
    *
    * Single pass over `hashes`: each token hash expands to its 47 ±1 votes
    * (the hash is a lambda value there — O(1) access), votes are summed
    * element-wise with one `aggregate`+`zip_with` fold, then folded into a
    * long against a literal 2^k weight array. The input column is
    * referenced exactly once — 47 separate vote aggregates would
    * re-evaluate it 47× per row (see TextFunctions.tokens). */
  def simhashFromHashes(hashes: Column): Column = {
    val perTok = transform(hashes, h =>
      array((0 until 47).map(k =>
        when(shiftright(h, k).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)): _*))
    val votes = aggregate(perTok, array_repeat(lit(0L), 47),
      (acc, b) => zip_with(acc, b, (x, y) => x + y))
    val weights = array((0 until 47).map(k => lit(1L << k)): _*)
    aggregate(zip_with(votes, weights, (v, w) => when(v > 0, w).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }
}
