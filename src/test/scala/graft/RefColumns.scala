package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-composite references for the engine's native kernels —
  * verification fixtures, NOT part of the engine. Each is spelled with
  * Spark built-ins only (higher-order functions and shift/mask
  * arithmetic), the portable form the specs pin the native expression
  * against; the engine calls the native form.
  */
object RefColumns {

  /** Element-wise sum of two equal-length long arrays (A12,
    * sum_distributions at pattern_finder.py:238-247); `PatternFinder`'s
    * per-bin conditional sums are its map-side-combinable form. */
  def arraySum(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Quadratic-form distance sqrt(Σ((v-p)/p)²) over two arrays
    * (simple_quadratic_form.py:30-41); the engine runs
    * `VectorFunctions.quadraticFormDistanceUnrolled`. */
  def quadraticFormDistance(v: Column, p: Column): Column =
    sqrt(aggregate(zip_with(v, p, (a, b) => pow((a - b) / b, 2.0d)),
      lit(0.0d), (acc, x) => acc + x))

  /** 47-bit polynomial hash of each token, fold (acc·31 + code) mod
    * 2⁴⁷−115 — the reference for `TextExpressions.polyHash47`. */
  def tokenHashes(tokens: Column): Column = {
    val mod = 140737488355213L
    transform(tokens, t =>
      aggregate(
        transform(sequence(lit(1), length(t)), i => ascii(substr(t, i, lit(1))).cast("long")),
        lit(0L), (acc, c) => (acc * 31 + c) % mod))
  }

  /** SimHash from token hashes: bit k set iff Σ_tokens sign(bit k) > 0
    * (a null hash votes −1 on every bit) — the reference for
    * `TextExpressions.simhashFold`. */
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

  /** Sign-of-projection LSH bucket key under `planes` hyperplanes, the
    * hyperplane components drawn by `LshUtil.planeSign`'s formula — the
    * reference for `Similarity.lshBucket` and `lshSignBits`. */
  def lshBucket(vec: Column, planes: Int): Column = {
    def component(plane: Int, dim: Column) = {
      val h1 = pmod(dim * 2654435761L + lit(plane.toLong) * 40503L + 12345L, lit(1048576L))
      val h = pmod(shiftright(h1 * (h1 + 1L), 1), lit(1048576L))
      (h.cast("double") / 524288.0d) - 1.0d
    }
    val signs = (0 until planes).map { pl =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v * component(pl, i.cast("long"))),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << pl)).otherwise(lit(0L))
    }
    signs.reduce((a, b) => a + b)
  }

  /** Morton key: interleave the low `bits` bits of each column, first
    * column at the lowest bit position, as a shift/or tree of bits·n
    * Column nodes — the reference for `LayoutExpressions.zKey`. */
  def interleaveBits(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "interleaveBits needs at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"bits=$bits over ${cols.size} columns exceeds a long")
    val n = cols.size
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, i)) =>
        a.bitwiseOR(shiftleft(
          shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i))
      }
    }
  }
}
