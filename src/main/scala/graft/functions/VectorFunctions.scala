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

  /** Quadratic-form distance sqrt(Σ((x-w)/w)²) between a STATICALLY-known
    * feature list and pattern (simple_quadratic_form.py:30-41), unrolled
    * to plain arithmetic instead of `aggregate`/`zip_with`, because
    * Spark's higher-order functions are `CodegenFallback` — interpreted
    * per row, and their presence knocks the enclosing projection out of
    * whole-stage codegen. The sum folds left to right from 0.0, the
    * order of the array form over the same values (kept in the tests as
    * `RefColumns.quadraticFormDistance`), so the doubles are
    * bit-identical. */
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
}
