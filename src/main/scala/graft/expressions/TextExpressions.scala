package graft.expressions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the corpus-pipeline hot path.
  *
  * The pure-Column composites in TextFunctions are semantically identical
  * and stay as the portable reference tier, but Spark evaluates
  * higher-order array lambdas interpreted — tokenize+shingle over a 5k-doc
  * corpus is ~540k lambda invocations (~3.6 s at sf0.1), and the minhash
  * fold is millions more. These expressions produce byte-identical values
  * with one tight JVM loop per row (measured 10-20× on the affected
  * stages). Codegen emits a single static call; value semantics are pinned
  * by specs asserting equality with the Column composites, and by the
  * DuckDB oracles which are shared with the composite tier.
  */
object TextUtil {

  private val ws = java.util.regex.Pattern.compile("\\s+")
  final val Mod47 = 140737488355213L // 2^47 - 115 (prime)

  /** Lower-cased whitespace tokens, n-gram shingled (space-joined),
    * optionally de-duplicated keeping first occurrence. n=1, distinct=false
    * is plain tokenization. Matches TextFunctions.wordShingles +
    * array_distinct exactly (trim is subsumed by the empty-token filter). */
  def shingles(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val toks = tokens(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) { out(i) = UTF8String.fromString(gram(toks, i, n)); i += 1 }
    if (!distinct) new GenericArrayData(out)
    else {
      val seen = new mutable.LinkedHashSet[Any]
      var j = 0
      while (j < m) { seen.add(out(j)); j += 1 }
      new GenericArrayData(seen.toArray)
    }
  }

  /** How many of the document's DISTINCT word n-grams ([[shingles]]'s
    * tokenization and join) are in `set` — the per-document overlap
    * count of a distinct-shingle semi-join against `set`, without
    * materializing the document's gram array. */
  def shingleOverlap(text: UTF8String, n: Int,
                     set: java.util.HashSet[String]): Long = {
    if (set.isEmpty) return 0L
    val toks = tokens(text)
    var hits: java.util.HashSet[String] = null
    var i = 0
    while (i < toks.length - n + 1) {
      val g = gram(toks, i, n)
      if (set.contains(g)) {
        if (hits == null) hits = new java.util.HashSet[String]
        hits.add(g)
      }
      i += 1
    }
    if (hits == null) 0L else hits.size.toLong
  }

  private def tokens(text: UTF8String): Array[String] = {
    val toks = ws.split(text.toString.toLowerCase)
    if (toks.length > 0 && toks(0).isEmpty) toks.drop(1) else toks
  }

  private def gram(toks: Array[String], i: Int, n: Int): String =
    if (n == 1) toks(i)
    else {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      sb.toString
    }

  /** Banded Levenshtein over raw ASCII bytes: the distance if ≤ `k`,
    * else −1 — the exact contract of Spark's
    * `UTF8String.levenshteinDistance(other, k)`, which non-ASCII inputs
    * fall back to. Exists because Spark's threshold implementation costs
    * ~150–300 ns per band cell on long ASCII texts (measured r17:
    * 59 ms/pair average at 18 KB — codepoint stepping and per-cell
    * bounds arithmetic), two orders over this tight byte-array loop.
    * Classic |i−j| ≤ k band with INF sentinels one cell outside each
    * row's window and a row-min early exit. */
  def levenshteinBanded(a: UTF8String, b: UTF8String, kRaw: Int): Int = {
    if (kRaw < 0) return -1
    if (!a.isFullAscii || !b.isFullAscii) return a.levenshteinDistance(b, kRaw)
    val x = a.getBytes
    val y = b.getBytes
    val n = x.length
    val m = y.length
    // clamp: the distance never exceeds the longer length, and a k near
    // Int.MaxValue would overflow `inf = k + 1` and `i + k` below
    // (returning garbage instead of honoring the threshold contract)
    val k = math.min(kRaw, math.max(n, m))
    if (math.abs(n - m) > k) return -1
    if (n == 0) return m // ≤ k by the check above
    if (m == 0) return n
    val inf = k + 1
    var prev = new Array[Int](m + 2)
    var curr = new Array[Int](m + 2)
    val up = math.min(m, k)
    var j = 0
    while (j <= up) { prev(j) = j; j += 1 }
    if (up + 1 <= m) prev(up + 1) = inf
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      curr(lo - 1) = if (lo == 1 && i <= k) i else inf
      var rowMin = curr(lo - 1)
      val xc = x(i - 1)
      var jj = lo
      while (jj <= hi) {
        var v = prev(jj - 1) + (if (xc == y(jj - 1)) 0 else 1)
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = curr(jj - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        curr(jj) = v
        if (v < rowMin) rowMin = v
        jj += 1
      }
      if (hi + 1 <= m) curr(hi + 1) = inf
      if (rowMin > k) return -1
      val t = prev; prev = curr; curr = t
      i += 1
    }
    val d = prev(m)
    if (d > k) -1 else d
  }

  /** 47-bit polynomial hash of each element: fold (acc*31 + codepoint)
    * mod 2^47-115 — identical to TextFunctions.fingerprint /
    * VectorFunctions.tokenHashes (BMP codepoints = UTF-16 chars). */
  def polyHash47(arr: ArrayData): ArrayData = {
    val nEl = arr.numElements()
    val out = new Array[Long](nEl)
    var i = 0
    while (i < nEl) {
      val s = arr.getUTF8String(i).toString
      var acc = 0L
      var j = 0
      while (j < s.length) { acc = (acc * 31 + s.charAt(j)) % Mod47; j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Second 47-bit hash family from the same token hashes — the affine
    * remap `h2 = (hi24·48271 + lo23·16807 + 11213) mod (2^47−115)` over
    * the split `hi24 = h >>> 23, lo23 = h & (2^23−1)` (products ≤ 2^40,
    * sum < 2^41 — no Long overflow). NOT injective: any input delta
    * `(Δhi, Δlo) = (16807k, −48271k)` collides exactly (the weighted
    * sum cancels below the modulus), so this is a decorrelating second
    * VOTE STREAM for [[simhashFold]]'s 94-bit wide signature — rare
    * collisions only flip individual bit votes — never a collision-free
    * key. Same affine-family trick [[minhashSig]] uses per plane,
    * without re-hashing the token strings. */
  def polyRemap47(arr: ArrayData): ArrayData = {
    val nEl = arr.numElements()
    val out = new Array[Long](nEl)
    var i = 0
    while (i < nEl) {
      val h = arr.getLong(i)
      out(i) = ((h >>> 23) * 48271L + (h & 0x7FFFFFL) * 16807L + 11213L) % Mod47
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Shannon entropy (bits/char): Σ over SORTED distinct chars of
    * -(c/n)·log2(c/n) — the summation order and log2 formulation mirror
    * TextFunctions.charEntropy exactly (bit-identical doubles), replacing
    * its O(distinct·len) per-element array scans with one counting pass. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return -0.0d
    val counts = new java.util.TreeMap[String, Long]()
    var i = 0
    while (i < str.length) {
      val c = String.valueOf(str.charAt(i))
      counts.merge(c, 1L, (a, b) => a + b)
      i += 1
    }
    val n = str.length.toDouble
    var acc = 0.0d
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next() / n
      acc += p * (StrictMath.log(p) / StrictMath.log(2.0))
    }
    -acc
  }

  /** Deflate (zlib level 6, raw) compressed-bytes / raw-bytes of the
    * UTF-8 text, rounded to 6 dp — the Gopher-family quality signal
    * (Rae et al. 2021 arXiv:2112.11446 repetition heuristics):
    * boilerplate and templated spam compress far below natural prose.
    * Empty input → 0.0; short inputs can exceed 1.0 (deflate overhead),
    * which is itself the "too short to judge" signal. */
  def deflateRatio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 0.0d
    val total = deflateLenBytes(raw)
    StrictMath.rint(total.toDouble / raw.length * 1000000.0d) / 1000000.0d
  }

  /** Compressed byte count of the UTF-8 text under the same deflate
    * parameters as [[deflateRatio]] (which divides this by the raw
    * length) — the INTEGER face, exposed so the ratio signal can carry
    * an exact hash-checkable twin (doubles round; byte counts don't). */
  def deflateLen(s: UTF8String): Long = {
    val raw = s.getBytes
    if (raw.isEmpty) 0L else deflateLenBytes(raw)
  }

  private def deflateLenBytes(raw: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** 64-block perceptual-style blob hash as [hi, lo] 32-bit halves:
    * split the byte array into 64 equal ranges (boundaries
    * `⌊i·n/64⌋`), bit i set iff that block's byte-sum × 64 strictly
    * exceeds the total byte-sum — the aHash recipe (block intensity vs
    * global mean) on raw bytes, so the STUBBED decode stays
    * deterministic and the whole hash is exact integer arithmetic an
    * oracle can replicate. Two 32-bit halves rather than one 64-bit
    * word so SQL engines without wrapping BIGINT arithmetic can build
    * it without overflow. Empty input → [0, 0]. */
  def mediaPhash(b: Array[Byte]): ArrayData = {
    val n = b.length
    val sums = new Array[Long](64)
    var i = 0
    while (i < 64) {
      var j = ((i.toLong * n) / 64).toInt
      val end = (((i + 1).toLong * n) / 64).toInt
      var s = 0L
      while (j < end) { s += (b(j) & 0xFF); j += 1 }
      sums(i) = s
      i += 1
    }
    var total = 0L
    i = 0; while (i < 64) { total += sums(i); i += 1 }
    var hi = 0L
    var lo = 0L
    i = 0
    while (i < 32) { if (sums(i) * 64 > total) hi |= 1L << (31 - i); i += 1 }
    while (i < 64) { if (sums(i) * 64 > total) lo |= 1L << (63 - i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(hi, lo))
  }

  /** Greedy BPE apply: lower-cased whitespace words, each exploded to
    * single-character symbols, then the lowest-rank applicable merge is
    * applied (all occurrences, left-to-right) until none applies — the
    * standard BPE encoding loop (Sennrich et al. 2016, public algorithm).
    * `ranks` maps "a b" → merge priority (0 = first merge learned).
    * Output is the concatenation of every word's final symbols; joining a
    * word's symbols restores the word exactly (no unknown handling — the
    * base alphabet is every character seen). */
  def bpeEncode(text: UTF8String, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val toks0 = ws.split(text.toString.toLowerCase)
    val out = mutable.ArrayBuffer.empty[Any]
    var t = 0
    while (t < toks0.length) {
      val w = toks0(t)
      if (w.nonEmpty) {
        var syms = new mutable.ArrayBuffer[String](w.length)
        var i = 0
        while (i < w.length) { syms += String.valueOf(w.charAt(i)); i += 1 }
        var done = syms.length < 2
        while (!done) {
          // lowest-rank pair present in the current symbol sequence
          var bestRank = Int.MaxValue
          var j = 0
          while (j < syms.length - 1) {
            val r = ranks.get(syms(j) + " " + syms(j + 1))
            if (r != null && r < bestRank) bestRank = r
            j += 1
          }
          if (bestRank == Int.MaxValue) done = true
          else {
            val merged = new mutable.ArrayBuffer[String](syms.length)
            var k = 0
            while (k < syms.length) {
              if (k < syms.length - 1 &&
                  ranks.get(syms(k) + " " + syms(k + 1)) != null &&
                  ranks.get(syms(k) + " " + syms(k + 1)).intValue == bestRank) {
                merged += syms(k) + syms(k + 1)
                k += 2
              } else { merged += syms(k); k += 1 }
            }
            syms = merged
            done = syms.length < 2
          }
        }
        var m = 0
        while (m < syms.length) { out += UTF8String.fromString(syms(m)); m += 1 }
      }
      t += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Build the rank map a [[bpeEncode]] call needs from merges in
    * learned order ("a b" strings). */
  def bpeRanks(merges: Seq[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, Integer.valueOf(i)) }
    m
  }

  /** Fraction of a string array's entries that repeat an earlier entry,
    * `(size − size(array_distinct)) / size` (0.0 when empty), in one
    * pass. */
  def dupFraction(arr: ArrayData): Double = {
    val n = arr.numElements()
    if (n == 0) return 0.0
    val seen = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) { seen.add(arr.getUTF8String(i)); i += 1 }
    (n - seen.size).toDouble / n
  }

  /** k running minima under affine permutations (2i+1)·h + 31i+7 mod p —
    * identical to the zip_with fold in TextPipeline.minhashLsh. */
  def minhashSig(hashes: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val nEl = hashes.numElements()
    var i = 0
    while (i < nEl) {
      val h = hashes.getLong(i)
      var p = 0
      while (p < k) {
        val v = (h * (2 * p + 1) + 31L * p + 7L) % Mod47
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash vote fold over token hashes — bit k set iff Σ sign(bit k)
    * of the hashes > 0, byte-identical to the `aggregate`+`zip_with`
    * Column composite in VectorFunctions.simhashFromHashes (including
    * its null-element convention: a null hash votes −1 on every bit,
    * the CASE/ELSE branch the composite takes). One tight loop instead
    * of 47 interpreted lambda CASEs per token. */
  def simhashFold(hashes: ArrayData): Long = {
    val votes = new Array[Long](47)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (hashes.isNullAt(i)) {
        var k = 0
        while (k < 47) { votes(k) -= 1; k += 1 }
      } else {
        val h = hashes.getLong(i)
        var k = 0
        while (k < 47) {
          if (((h >> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 47) { if (votes(k) > 0) out |= (1L << k); k += 1 }
    out
  }

  /** Supported normalization forms (name → java.text.Normalizer form). */
  val normalizerForms: Map[String, java.text.Normalizer.Form] = Map(
    "NFC" -> java.text.Normalizer.Form.NFC,
    "NFD" -> java.text.Normalizer.Form.NFD,
    "NFKC" -> java.text.Normalizer.Form.NFKC,
    "NFKD" -> java.text.Normalizer.Form.NFKD)

  /** Unicode-normalize one value; already-normal input (the common
    * ASCII case) returns without re-encoding. */
  def unicodeNormalize(text: UTF8String, form: String): UTF8String = {
    val f = normalizerForms(form)
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, f)) text
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }

  /** Content-defined chunk boundaries (Rabin/gear-style CDC restated over
    * the corpus 47-bit polynomial hash — Muthitacharoen et al. 2001 LBFS;
    * Xia et al. 2016 FastCDC): a chunk closes after character i (1-based)
    * when the poly-47 hash of the w-char gram ending at i is ≡ 0 mod
    * `divisor`; the final chunk closes at end-of-string. Boundaries depend
    * ONLY on the local w-char window, so an insertion near the front of a
    * blob shifts every byte yet re-synchronizes after at most one chunk —
    * the shift-invariance whole-blob digests lack. Returns
    * array<struct<off:int,len:int>> of 1-based (offset, length) chunks.
    * The per-position hash is recomputed fresh (O(n·w), same per-char
    * `(acc*31+c) % M` fold as [[polyHash47]] / the fpSql oracle twin) —
    * an O(1) rolling update would need 128-bit modular products, and w is
    * small by construction. */
  def cdcChunks(text: UTF8String, w: Int, divisor: Long): ArrayData = {
    // CODE POINTS, not UTF-16 chars: Spark's substr counts code points,
    // and the DuckDB oracle twin hashes per character via ascii(...) —
    // charAt would split supplementary characters into surrogate halves,
    // shifting both the hash values and the (off, len) units the
    // downstream substr applies
    val cps = text.toString.codePoints().toArray
    cdcChunksImpl(cps.length, i => cps(i), w, divisor)
  }

  /** Byte-level CDC boundaries for arbitrary binary media — no UTF-8
    * validity assumption; offsets/lengths are BYTE units, matching
    * `substr` on a BinaryType column. Same rolling-hash fold over
    * unsigned byte values. */
  def cdcChunksBytes(media: Array[Byte], w: Int, divisor: Long): ArrayData =
    cdcChunksImpl(media.length, i => media(i) & 0xFF, w, divisor)

  private def cdcChunksImpl(n: Int, at: Int => Int, w: Int,
                            divisor: Long): ArrayData = {
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val cuts = new mutable.ArrayBuffer[Int]
    var i = w - 1 // 0-based end of the first full gram
    while (i < n) {
      var acc = 0L
      var j = i - w + 1
      while (j <= i) { acc = (acc * 31 + at(j)) % Mod47; j += 1 }
      if (acc % divisor == 0L) cuts += (i + 1)
      i += 1
    }
    if (cuts.isEmpty || cuts.last != n) cuts += n
    val out = new Array[Any](cuts.length)
    var prev = 0
    var c = 0
    while (c < cuts.length) {
      val end = cuts(c)
      out(c) = org.apache.spark.sql.catalyst.InternalRow(prev + 1, end - prev)
      prev = end
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkes & Aiken 2003) in
    * one per-row loop: tokenize → k-gram → 47-bit hash → sliding window-w
    * rightmost-min, emitted as the `hash·2¹⁶ + (2¹⁶−1−pos)` encoding
    * [[graft.pipeline.TextPipeline.winnowFingerprintsNative]] decodes —
    * the same arithmetic the SQL oracle's window `min` uses, so the two
    * are value-identical. Consecutive-dedup equals global dedup here: a
    * superseded minimum is older than its successor, leaves the window
    * first, and can never be re-selected. Documents need < 2¹⁶ grams
    * (chunk first); violations throw, never corrupt. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val grams = shingles(text, k, distinct = false)
    val n = grams.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    if (n >= 65536)
      throw new IllegalArgumentException(
        "winnow_fp: document has >= 65536 k-grams; chunk documents first")
    val comb = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = grams.getUTF8String(i).toString
      var acc = 0L
      var j = 0
      while (j < s.length) { acc = (acc * 31 + s.charAt(j)) % Mod47; j += 1 }
      comb(i) = acc * 65536L + (65535L - i)
      i += 1
    }
    val out = new mutable.ArrayBuffer[Any]
    var last = -1L
    var e = w - 1
    while (e < n) {
      var m = comb(e - w + 1)
      var p = e - w + 2
      while (p <= e) { if (comb(p) < m) m = comb(p); p += 1 }
      if (m != last) { out += m; last = m }
      e += 1
    }
    new GenericArrayData(out.toArray)
  }
}

case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.shingles(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.shingles($c, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

case class PolyHash47(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "poly_hash47"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.polyHash47(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.polyHash47($c);")

  override protected def withNewChildInternal(newChild: Expression): PolyHash47 =
    copy(child = newChild)
}

/** `unicode_normalize(text, form)` — java.text.Normalizer in one
  * codegen'd call. NFC is the production-corpus default (composes
  * combining sequences, maps singleton compatibility points like
  * U+212B ANGSTROM SIGN → U+00C5); NFKC additionally folds
  * compatibility variants (full-width forms, ligatures). Spark ships NO
  * normalization built-in, so every byte-level dedup/hash upstream of
  * this treats "Café" (composed) and "Café" (decomposed) as
  * different documents — the canonical silent-duplicate source in
  * scraped corpora. DuckDB's `nfc_normalize` is the oracle twin for the
  * NFC form. Fast path: `Normalizer.isNormalized` is O(n) with no
  * allocation, so already-normal ASCII corpora pay no copy. */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
    else if (!TextUtil.normalizerForms.contains(form))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName form must be one of ${TextUtil.normalizerForms.keys.mkString(", ")}")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = child.dataType
  override def prettyName: String = "unicode_normalize"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.unicodeNormalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.expressions.TextUtil.unicodeNormalize($c, "$form");""")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** `simhash_fold(hashes)`: the 47-plane SimHash vote fold as one
  * codegen'd loop ([[TextUtil.simhashFold]]) — the Column-composite
  * spelling evaluates 47 interpreted lambda CASEs per token hash
  * (HigherOrderFunction has no doGenCode), which is the signature
  * scan's whole cost at corpus scale. Byte-identical output
  * (spec-pinned against the composite). */
case class SimhashFold(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash_fold"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.simhashFold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.simhashFold($c);")

  override protected def withNewChildInternal(newChild: Expression): SimhashFold =
    copy(child = newChild)
}

/** `poly_remap47(hashes)`: element-wise affine remap of 47-bit hashes
  * into a second hash family ([[TextUtil.polyRemap47]]) — the wide
  * simhash's second vote stream, codegen'd so it stays inside the
  * signature scan next to [[PolyHash47]]/[[SimhashFold]]. */
case class PolyRemap47(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "poly_remap47"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.polyRemap47(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.polyRemap47($c);")

  override protected def withNewChildInternal(newChild: Expression): PolyRemap47 =
    copy(child = newChild)
}

case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "char_entropy"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.charEntropy($c);")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** `media_phash(media)`: the 64-block blob hash ([[TextUtil.mediaPhash]])
  * as a codegen'd call — hashing runs INSIDE the scan stage; only the
  * two 8-byte halves (never the blob) flow to the banded near-dup join
  * downstream. */
case class MediaPhash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "media_phash"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.mediaPhash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.mediaPhash($c);")

  override protected def withNewChildInternal(newChild: Expression): MediaPhash =
    copy(child = newChild)
}

case class DeflateRatio(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "deflate_ratio"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.deflateRatio(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.deflateRatio($c);")

  override protected def withNewChildInternal(newChild: Expression): DeflateRatio =
    copy(child = newChild)
}

/** `deflate_len(text)`: compressed byte count — the integer face of
  * [[DeflateRatio]], same kernel ([[TextUtil.deflateLen]]). */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "deflate_len"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.deflateLen(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.deflateLen($c);")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

/** `dup_fraction(grams)`: [[TextUtil.dupFraction]]. A Column composite
  * needs the gram array three times (size, distinct size, denominator),
  * and a filter — unlike a projection — gets no subexpression
  * elimination, so each reference would re-tokenize the document. */
case class DupFraction(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dup_fraction"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.dupFraction(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.dupFraction($c);")

  override protected def withNewChildInternal(newChild: Expression): DupFraction =
    copy(child = newChild)
}

case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long>")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.minhashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.minhashSig($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** `bpe_encode(text)` with a learned merge list: subword tokens after
  * greedily applying `merges` ("a b" pairs in learned-rank order) to each
  * lower-cased whitespace word. The merge table rides the expression as a
  * codegen reference object — one shared hash map per executor, no
  * broadcast join against a vocab and no per-row parsing. */
case class BpeEncode(child: Expression, merges: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  @transient private lazy val ranks = TextUtil.bpeRanks(merges)

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.bpeEncode(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
      classOf[java.util.HashMap[String, Integer]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.bpeEncode($c, $ranksRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** `shingle_overlap(text)`: the count of the document's distinct word
  * n-grams found in a fixed reference set ([[TextUtil.shingleOverlap]]).
  * The set rides a Spark broadcast: the plan and every task carry only
  * the handle, each task reads its executor's one deserialized copy when
  * its generated code initializes, and no join, explode or aggregate
  * runs — the per-document overlap is row-local. */
case class ShingleOverlap(child: Expression, n: Int,
    set: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "shingle_overlap"

  @transient private lazy val local = set.value

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.shingleOverlap(input.asInstanceOf[UTF8String], n, local)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val handle = ctx.addReferenceObj("shingleSetHandle", set,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val local = ctx.addMutableState("java.util.HashSet", "shingleSet",
      v => s"$v = (java.util.HashSet) $handle.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.shingleOverlap($c, $n, $local);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleOverlap =
    copy(child = newChild)
}

/** `winnow_fp(text)`: winnowing fingerprints as encoded
  * `hash·2¹⁶+(2¹⁶−1−pos)` longs — the whole
  * tokenize→shingle→hash→window-min chain in one codegen'd call, so
  * fingerprinting runs INSIDE the scan stage with zero shuffle (an
  * explode+window form would shuffle the full gram stream). */
case class WinnowFp(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"

  protected override def nullSafeEval(input: Any): Any =
    TextUtil.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.winnow($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFp =
    copy(child = newChild)
}

/** `cdc_chunks(text | binary)`: content-defined chunk (offset, length)
  * pairs — the whole boundary scan in one codegen'd call, so chunking
  * runs INSIDE the scan stage; only the chunk inventory (not the blob
  * bytes) flows to the dedup aggregate downstream. A StringType child
  * chunks in CODE-POINT units (consistent with `substr` on strings); a
  * BinaryType child chunks arbitrary bytes in BYTE units (consistent
  * with `substr` on binary) with no UTF-8 validity assumption. */
case class CdcChunks(child: Expression, w: Int, divisor: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType] &&
        child.dataType != org.apache.spark.sql.types.BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string or binary argument")
    else if (w < 2 || divisor < 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: need w >= 2 and divisor >= 2")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("off", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("len", org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunks"

  private def byteLevel: Boolean =
    child.dataType == org.apache.spark.sql.types.BinaryType

  protected override def nullSafeEval(input: Any): Any =
    if (byteLevel) TextUtil.cdcChunksBytes(input.asInstanceOf[Array[Byte]], w, divisor)
    else TextUtil.cdcChunks(input.asInstanceOf[UTF8String], w, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (byteLevel) "cdcChunksBytes" else "cdcChunks"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextUtil.$fn($c, $w, ${divisor}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** `levenshtein_banded(a, b, k)` — the threshold edit distance (value
  * if ≤ k, else −1; identical contract to Spark's three-arg
  * `levenshtein`) as one tight byte-array band loop for ASCII inputs,
  * falling back to `UTF8String.levenshteinDistance(other, k)` on
  * non-ASCII. This is the fuzzy-dedup confirm's hot expression; see
  * [[TextUtil.levenshteinBanded]] for the measured motivation. */
case class LevenshteinBanded(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires two strings")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "levenshtein_banded"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    TextUtil.levenshteinBanded(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TextUtil.levenshteinBanded($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LevenshteinBanded =
    copy(left = newLeft, right = newRight)
}

/** Column wrappers. */
object TextExpressions {
  def levenshteinBanded(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(LevenshteinBanded(
      ColumnBridge.expression(a), ColumnBridge.expression(b), k))
  def wordShingles(text: Column, n: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n, distinct))
  def polyHash47(arr: Column): Column =
    ColumnBridge.column(PolyHash47(ColumnBridge.expression(arr)))
  def minhashSig(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(hashes), k))
  def dupFraction(grams: Column): Column =
    ColumnBridge.column(DupFraction(ColumnBridge.expression(grams)))
  def charEntropy(s: Column): Column =
    ColumnBridge.column(CharEntropy(ColumnBridge.expression(s)))
  def deflateRatio(s: Column): Column =
    ColumnBridge.column(DeflateRatio(ColumnBridge.expression(s)))
  def deflateLen(s: Column): Column =
    ColumnBridge.column(DeflateLen(ColumnBridge.expression(s)))
  def mediaPhash(media: Column): Column =
    ColumnBridge.column(MediaPhash(ColumnBridge.expression(media)))
  def bpeEncode(text: Column, merges: Seq[String]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(text), merges))
  def shingleOverlap(text: Column, n: Int,
      set: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]]): Column =
    ColumnBridge.column(ShingleOverlap(ColumnBridge.expression(text), n, set))
  def winnowFp(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFp(ColumnBridge.expression(text), k, w))
  def cdcChunks(text: Column, w: Int, divisor: Long): Column =
    ColumnBridge.column(CdcChunks(ColumnBridge.expression(text), w, divisor))
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(text), form))
  def simhashFold(hashes: Column): Column =
    ColumnBridge.column(SimhashFold(ColumnBridge.expression(hashes)))
  def polyRemap47(hashes: Column): Column =
    ColumnBridge.column(PolyRemap47(ColumnBridge.expression(hashes)))
}
