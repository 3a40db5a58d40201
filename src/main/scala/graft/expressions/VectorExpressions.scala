package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native vector-distance expressions for the embedding hot path.
  *
  * [[graft.functions.VectorFunctions]] builds the same math from
  * `zip_with`/`aggregate` — but Spark evaluates higher-order array
  * lambdas interpreted (HigherOrderFunction has no doGenCode), so an ANN
  * assignment pass pays ~µs of lambda dispatch per distance: the IVF-PQ
  * code-assignment alone is corpus × m × ksub distances. These produce
  * byte-identical doubles with one tight JVM loop per row — identical
  * IEEE operations in identical (left-fold) order, so every rounded
  * oracle value is unchanged; ExpressionsSpec pins tier equality
  * including null/length-mismatch propagation.
  *
  * Element type: every kernel accepts `array<float>` as well as
  * `array<double>` (per-side flag, constant-folded in codegen).
  * Accumulation is ALWAYS double and float→double widening is IEEE
  * EXACT, so a float input produces bit-identical results to casting it
  * `array<double>` first — which is why the pipeline hot paths keep
  * embeddings float32 end-to-end (half the shuffle/cache bytes and none
  * of the per-row fp64 copy garbage the cast allocated; the r18 1M-cell
  * GC attribution) without touching any oracle value.
  */
object VectorUtil {

  /** Element read widened to double: `fl` selects the float accessor.
    * The flag is a per-call-site constant (codegen emits a literal), so
    * the branch predicts perfectly / specializes under JIT. */
  @inline private def elem(a: ArrayData, fl: Boolean, i: Int): Double =
    if (fl) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ a·b, left fold; null on length mismatch or null element (the
    * zip_with null-padding / null-propagation behavior). */
  def dot(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elem(a, aF, i) * elem(b, bF, i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Σ (a-b)², left fold; null semantics as [[dot]]. */
  def l2Squared(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elem(a, aF, i) - elem(b, bF, i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Cosine similarity with the composite's exact op order:
    * d = Σ a·b (left fold), n = sqrt(Σ a²)·sqrt(Σ b²), 0-norm → 0. */
  def cosine(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var d = 0.0d
    var na = 0.0d
    var nb = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, aF, i)
      val y = elem(b, bF, i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    java.lang.Double.valueOf(if (nn == 0.0d) 0.0d else d / nn)
  }

  /** [[cosine]] against a plain driver-side array (the baked-in centroid
    * form): same op order, same null/length semantics. */
  def cosineVs(a: ArrayData, aF: Boolean, b: Array[Double]): java.lang.Double = {
    val n = a.numElements()
    if (n != b.length) return null
    var d = 0.0d
    var na = 0.0d
    var nb = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = elem(a, aF, i)
      val y = b(i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    java.lang.Double.valueOf(if (nn == 0.0d) 0.0d else d / nn)
  }

  /** [[l2Squared]] of `a[off, off+len)` against a plain array — the PQ
    * subvector distance without materializing the slice. */
  def l2SliceVs(a: ArrayData, aF: Boolean, off: Int, len: Int,
                b: Array[Double]): java.lang.Double = {
    if (len != b.length) return null
    var acc = 0.0d
    var i = 0
    while (i < len) {
      if (a.isNullAt(off + i)) return null
      val d = elem(a, aF, off + i) - b(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Spark `round(x, scale)` for doubles — java BigDecimal HALF_UP, the
    * exact arithmetic Catalyst's Round emits (oracle parity depends on
    * it; `Math.round` would differ on .5 boundaries and negatives).
    * Non-finite inputs pass through unchanged, exactly like Catalyst's
    * Round — BigDecimal.valueOf(NaN) would otherwise throw and fail the
    * task. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue
}

/** Sign-of-projection LSH kernels shared by [[LshSignBits]] and
  * [[LshBucketKey]]. Hyperplane pl's component at dim i is a fixed
  * integer hash mapped to [-1, 1): h1 = (i·2654435761 + pl·40503 + 12345)
  * mod 2^20, h = h1·(h1+1)/2 mod 2^20, component = h/2^19 − 1; the
  * projection is a left fold, so the formula is SQL-expressible for the
  * oracles and the tests keep its Column composite (`RefColumns.lshBucket`)
  * as the reference. One tight loop instead of planes × dims interpreted
  * lambda calls.
  *
  * The quadratic second round matters: the affine draw alone makes
  * adjacent planes differ by the SAME constant at every dim, so
  * projections drift smoothly across planes and a band's sign-substring
  * collapses into ~planes monotone run patterns instead of 2^perBand keys
  * (measured r18: top benign 16-bit band buckets held 1.5-2.4k of 100k
  * vectors, keys like 0000000011111111). The triangular number is
  * non-affine in (i, pl) and overflow-safe (h1 < 2^20 → product < 2^40,
  * always even so /2 is exact); without the /2 the hash took only the
  * 2^19 even values. Any change here must land IN LOCK-STEP on the three
  * oracle-SQL sites in SparkEntry (grep 40503).
  *
  * A null element nulls that plane's projection, which the composite's
  * when() maps to sign 0 — replicated here. (Whole-NULL input is null
  * under these expressions, where the composite degenerates to all-zero
  * signs; no data path feeds null embeddings.) */
object LshUtil {
  private def planeSign(a: ArrayData, aF: Boolean, pl: Int): Boolean = {
    val n = a.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return false // null proj → when() else-branch
      // affine draw + triangular-number round (see the object's doc)
      val h1 = (i.toLong * 2654435761L + pl.toLong * 40503L + 12345L) % 1048576L
      val h = (h1 * (h1 + 1L) / 2L) % 1048576L
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * ((h.toDouble / 524288.0d) - 1.0d)
      i += 1
    }
    acc >= 0.0d
  }

  def signBits(a: ArrayData, aF: Boolean, planes: Int): UTF8String = {
    val out = new Array[Byte](planes)
    var pl = 0
    while (pl < planes) {
      out(pl) = if (planeSign(a, aF, pl)) '1' else '0'
      pl += 1
    }
    UTF8String.fromBytes(out)
  }

  def bucketKey(a: ArrayData, aF: Boolean, planes: Int): Long = {
    var key = 0L
    var pl = 0
    while (pl < planes) {
      if (planeSign(a, aF, pl)) key |= (1L << pl)
      pl += 1
    }
    key
  }
}

/** Shared type-gate for the float-or-double vector expressions. */
private[expressions] object VecType {
  def ok(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** Per-plane sign string ("10011…", length = planes) — the banded-LSH
  * signature column. */
case class LshSignBits(child: Expression, planes: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> or array<float>")
  private lazy val childF: Boolean = VecType.isFloat(child.dataType)
  override def dataType: DataType = StringType
  override def prettyName: String = "lsh_sign_bits"
  protected override def nullSafeEval(input: Any): Any =
    LshUtil.signBits(input.asInstanceOf[ArrayData], childF, planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.LshUtil.signBits($c, $childF, $planes);")
  override protected def withNewChildInternal(newChild: Expression): LshSignBits =
    copy(child = newChild)
}

/** Single-table LSH bucket key: bit pl set iff plane pl's sign is 1. */
case class LshBucketKey(child: Expression, planes: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> or array<float>")
  private lazy val childF: Boolean = VecType.isFloat(child.dataType)
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket_key"
  protected override def nullSafeEval(input: Any): Any =
    LshUtil.bucketKey(input.asInstanceOf[ArrayData], childF, planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.LshUtil.bucketKey($c, $childF, $planes);")
  override protected def withNewChildInternal(newChild: Expression): LshBucketKey =
    copy(child = newChild)
}

/** Shared shape for the three binary vector → double distances. Each
  * side is independently array<double> OR array<float> (mixed pairs are
  * the broadcast-centroid-vs-float-corpus case). */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.ok(left.dataType) && VecType.ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double>/array<float>")
  protected lazy val leftF: Boolean = VecType.isFloat(left.dataType)
  protected lazy val rightF: Boolean = VecType.isFloat(right.dataType)
  override def dataType: DataType = DoubleType
  // null also on length mismatch / null element, not just null input
  override def nullable: Boolean = true

  /** Name of the VectorUtil method implementing this distance. */
  protected def util: String

  protected def eval2(a: ArrayData, b: ArrayData): java.lang.Double

  protected override def nullSafeEval(a: Any, b: Any): Any =
    eval2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vres")
      s"""java.lang.Double $r = graft.expressions.VectorUtil.$util($a, $leftF, $b, $rightF);
         |${ev.isNull} = ($r == null);
         |${ev.value} = ($r == null) ? 0.0d : $r.doubleValue();""".stripMargin
    })
}

case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"
  protected def util: String = "dot"
  protected def eval2(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorUtil.dot(a, leftF, b, rightF)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

case class L2SquaredDistance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_l2sq"
  protected def util: String = "l2Squared"
  protected def eval2(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorUtil.l2Squared(a, leftF, b, rightF)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredDistance =
    copy(left = newLeft, right = newRight)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"
  protected def util: String = "cosine"
  protected def eval2(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorUtil.cosine(a, leftF, b, rightF)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `nearest_centroid(vec)` against a BAKED-IN centroid table —
  * `struct(cid, csim)` of the argmax rounded cosine, ties to the lowest
  * cid (the crossJoin + `max_by(cid, struct(csim, -cid))` tie-break).
  * The table rides the expression as data and the argmax is ONE tight
  * loop: an unrolled `greatest(struct(...))` chain over per-centroid
  * cosine columns blows the 64 KB codegen method limit at nlist ≥ ~10
  * and falls back to interpreted eval — this stays inside whole-stage
  * codegen at any nlist. Rounding is HALF_UP to 6 dp, matching the
  * `round(cosine, 6)` the relational spelling applies. Candidates with
  * a null cosine (length mismatch / null element) are skipped; when no
  * candidate is valid the lowest cid wins with a NULL csim (the
  * fallback's null-ordering semantics — see [[assign]]). */
case class NearestCentroid(child: Expression,
                           centIds: Seq[Long], centVecs: Seq[Seq[Double]])
    extends UnaryExpression {
  require(centIds.length == centVecs.length && centIds.nonEmpty,
    "nearest_centroid needs a non-empty centroid table")

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> or array<float>")
  private lazy val childF: Boolean = VecType.isFloat(child.dataType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cid", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("csim", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val ids: Array[Long] = centIds.toArray
  @transient private lazy val vecs: Array[Array[Double]] =
    centVecs.map(_.toArray).toArray
  @transient private lazy val minCid: Long = ids.min

  /** Shared by interpreted eval and generated code (reference object).
    * Comparison uses java.lang.Double.compare — the ordering Spark's
    * own max_by applies — so a NaN cosine sorts GREATEST (and ties to
    * the lowest cid) exactly like the crossJoin fallback, instead of
    * depending on candidate evaluation order. When NO candidate has a
    * valid cosine (every length mismatched), the fallback's
    * max_by-over-null-ordering semantics crown the lowest cid with a
    * null csim — reproduced here rather than nulling the row, so the
    * two paths agree on any input. */
  def assign(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    var found = false
    var bestSim = 0.0d
    var bestCid = 0L
    var c = 0
    while (c < vecs.length) {
      val s0 = VectorUtil.cosineVs(vec, childF, vecs(c))
      if (s0 != null) {
        val raw = s0.doubleValue
        // LAZY rounding (r19 scale fix): roundHalfUp is a BigDecimal
        // allocation+setScale — at corpus encode volume (rows × nlist ≈
        // 10⁹ candidates at 1M vectors, nlist 1000) it WAS the whole
        // stage cost (probed: 52 s/task of a 58 s wall) and the GC bed
        // the r18 footnote attributed to heap posture. Rounding is
        // monotone and moves a value by < 5e-7, so a candidate whose RAW
        // cosine is ≥ 1e-6 below the current ROUNDED best can neither
        // exceed it nor tie it — skip the BigDecimal entirely. NaN
        // passes the guard (comparisons with NaN are false), keeping
        // the Double.compare NaN-sorts-greatest semantics intact.
        if (!found || !(raw < bestSim - 1e-6)) {
          val s = VectorUtil.roundHalfUp(raw, 6)
          val cmp = java.lang.Double.compare(s, bestSim)
          if (!found || cmp > 0 || (cmp == 0 && ids(c) < bestCid)) {
            found = true; bestSim = s; bestCid = ids(c)
          }
        }
      }
      c += 1
    }
    if (!found)
      org.apache.spark.sql.catalyst.InternalRow(minCid, null)
    else org.apache.spark.sql.catalyst.InternalRow(bestCid, bestSim)
  }

  protected override def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.assign($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** `pq_nearest_codes(vec)` against a BAKED-IN per-subspace codebook —
  * the PQ encode as one loop-based codegen call: for each subspace
  * (even `dim/m` split, last absorbs the remainder — [[graft.pipeline
  * .Similarity.subSlice]] semantics) the argmin fixed-point L2
  * (`round(d²·1e6)` HALF_UP, ties to the lowest code), returned as the
  * m-length code array. Same 64 KB-limit rationale as
  * [[NearestCentroid]]. Null when any subspace has no valid candidate
  * (length mismatch / null element). */
case class PqNearestCodes(child: Expression, m: Int,
                          subCodes: Seq[Seq[Int]],
                          subVecs: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(m >= 1 && subCodes.length == m && subVecs.length == m &&
    subCodes.indices.forall(s =>
      subCodes(s).nonEmpty && subCodes(s).length == subVecs(s).length),
    "pq_nearest_codes needs a non-empty codebook for every subspace")

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> or array<float>")
  private lazy val childF: Boolean = VecType.isFloat(child.dataType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_nearest_codes"

  @transient private lazy val codes: Array[Array[Int]] =
    subCodes.map(_.toArray).toArray
  @transient private lazy val vecs: Array[Array[Array[Double]]] =
    subVecs.map(_.map(_.toArray).toArray).toArray

  /** Shared by interpreted eval and generated code (reference object).
    * Distances compare as the LONG the relational spelling casts to
    * (`round(d²·1e6).cast("long")` — Scala's Double→Long conversion
    * maps NaN to 0 exactly like Catalyst's cast), so a non-finite
    * distance ranks identically on both paths instead of depending on
    * candidate order. */
  def encode(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val w = n / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * w
      val len = if (s == m - 1) n - w * (m - 1) else w
      var found = false
      var bestD = 0L
      var bestCode = 0
      var c = 0
      while (c < vecs(s).length) {
        val d0 = VectorUtil.l2SliceVs(vec, childF, off, len, vecs(s)(c))
        if (d0 != null) {
          val rawU = d0.doubleValue * 1000000.0d
          // lazy rounding, argmin face of the NearestCentroid guard:
          // round(x, 0) ≥ x − 0.5, so a candidate with rawU > bestD + 0.6
          // rounds strictly above bestD (integer domain → ≥ bestD + 1)
          // and can neither beat nor tie it; NaN fails the comparison
          // and takes the exact path, preserving the NaN → 0L cast rank.
          // bestD == Long.MaxValue keeps the exact path too: a +Infinity
          // candidate CASTS to Long.MaxValue and must still tie-break by
          // lowest code against an infinite best, exactly as before
          if (!found || bestD == Long.MaxValue || !(rawU > bestD + 0.6d)) {
            val d = VectorUtil.roundHalfUp(rawU, 0).toLong
            if (!found || d < bestD || (d == bestD && codes(s)(c) < bestCode)) {
              found = true; bestD = d; bestCode = codes(s)(c)
            }
          }
        }
        c += 1
      }
      if (!found) return null
      out(s) = bestCode
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqNearestCodes", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.encode($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqNearestCodes =
    copy(child = newChild)
}

/** Column wrappers. */
object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def l2Squared(a: Column, b: Column): Column =
    ColumnBridge.column(L2SquaredDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def nearestCentroid(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(vec),
      cents.map(_._1), cents.map(_._2)))
  def pqNearestCodes(vec: Column, m: Int,
                     perSub: Seq[Seq[(Int, Seq[Double])]]): Column =
    ColumnBridge.column(PqNearestCodes(ColumnBridge.expression(vec), m,
      perSub.map(_.map(_._1)), perSub.map(_.map(_._2))))
  def lshSignBits(vec: Column, planes: Int): Column =
    ColumnBridge.column(LshSignBits(ColumnBridge.expression(vec), planes))
  def lshBucketKey(vec: Column, planes: Int): Column =
    ColumnBridge.column(LshBucketKey(ColumnBridge.expression(vec), planes))
}
