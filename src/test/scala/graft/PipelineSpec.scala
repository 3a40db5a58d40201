package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Similarity, TextPipeline}

/** Specs for the training-data pipeline operators. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toSeq.toDF("doc_id", "text")

  test("dedupExact keeps min doc_id and counts duplicates") {
    val out = rowsOf(TextPipeline.dedupExact(docs(
      1L -> "same text", 2L -> "same text", 3L -> "other")))
    assert(out.size == 2)
    assert(out.find(_("doc_id") == 1L).get("dup_count") == 2L)
    assert(!out.exists(_("doc_id") == 2L))
  }

  test("dedupExactNormalized merges case/punct/whitespace variants only") {
    val out = rowsOf(TextPipeline.dedupExactNormalized(docs(
      1L -> "Hello, World!", 2L -> "hello world", 3L -> "  hello   world. ",
      4L -> "different entirely")))
    assert(out.size == 2)
    assert(out.find(_("doc_id") == 1L).get("dup_count") == 3L)
    assert(out.exists(_("doc_id") == 4L))
  }

  test("docStats fields") {
    val out = rowsOf(TextPipeline.docStats(docs(1L -> "the cat sat, on the mat!")))
    val r = out.head
    assert(r("n_tokens") == 6)
    assert(r("stopword_ratio").asInstanceOf[Double] > 0.3) // "the","on","the"
    assert(r("fingerprint").asInstanceOf[Long] > 0L)
  }

  test("nearDupJaccard finds overlapping docs, skips disjoint") {
    val out = rowsOf(TextPipeline.nearDupJaccard(docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta zeta",
      3L -> "one two three four five"), n = 2, minJaccard = 0.3))
    assert(out.size == 1)
    val r = out.head
    assert(r("doc_a") == 1L && r("doc_b") == 2L)
    assert(r("shared") == 3L) // "alpha beta","beta gamma","gamma delta"
  }

  test("minhash LSH recalls identical docs as candidates") {
    val out = rowsOf(TextPipeline.minhashCandidates(docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "completely different words entirely here now")))
    assert(out.exists(r => r("doc_a") == 1L && r("doc_b") == 2L))
    assert(!out.exists(r => r("doc_a") == 1L && r("doc_b") == 3L) ||
      !out.exists(r => r("doc_a") == 2L && r("doc_b") == 3L))
  }

  test("simhash: identical docs equal; near docs closer than far docs") {
    val out = rowsOf(TextPipeline.simhash(docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "alpha beta gamma delta epsilon zeta eta iota",
      4L -> "qq ww ee rr tt yy uu ii")))
    def h(id: Long) = out.find(_("doc_id") == id).get("simhash").asInstanceOf[Long]
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1) == h(2))
    assert(ham(h(1), h(3)) < ham(h(1), h(4)))
  }

  test("maxBucket skew guard: capped candidates are a subset; hot bucket dropped") {
    // 6 identical docs form a hot bucket in EVERY band (d²=15 pairs);
    // docs 7/8 are a near-identical pair that should survive the cap
    val corpus = docs((1L to 6L).map(i => i -> "alpha beta gamma delta epsilon zeta") ++ Seq(
      7L -> "one two three four five six seven eight",
      8L -> "one two three four five six seven eight"): _*)
    def pairs(maxBucket: Long) =
      rowsOf(TextPipeline.minhashCandidates(corpus, maxBucket = maxBucket))
        .map(r => (r("doc_a"), r("doc_b"))).toSet
    val (un, cap) = (pairs(0L), pairs(4L))
    assert(cap.subsetOf(un), "capped candidates must be a subset of uncapped")
    assert(un.contains((1L, 2L)) && !cap.contains((1L, 2L)),
      "hot-bucket pairs must be dropped by the cap")
    assert(cap.contains((7L, 8L)), "small-bucket pairs must survive the cap")
    // simhash: same guard, same subset semantics
    def sPairs(maxBucket: Long) =
      rowsOf(TextPipeline.simhashCandidates(corpus, maxBucket = maxBucket))
        .map(r => (r("doc_a"), r("doc_b"))).toSet
    assert(sPairs(4L).subsetOf(sPairs(0L)))
    assert(sPairs(4L).contains((7L, 8L)))
    spark.catalog.clearCache()
  }

  test("langId picks profile with most stopword hits") {
    val profiles = Map(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "und", "das"))
    val out = rowsOf(TextPipeline.langId(docs(
      1L -> "the cat and the dog", 2L -> "der hund und das haus"), profiles))
    assert(out.find(_("doc_id") == 1L).get("lang_guess") == "en")
    assert(out.find(_("doc_id") == 2L).get("lang_guess") == "de")
  }

  test("knnBruteForce ranks by cosine") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = rowsOf(Similarity.knnBruteForce(emb, emb.filter($"vec_id" === 0L), 2))
    assert(out.size == 2)
    assert(out.find(_("rank") == 1).get("nbr_id") == 1L)
    assert(out.find(_("rank") == 2).get("nbr_id") == 2L)
  }

  test("quantizeInt8/knnInt8: bounded reconstruction error, duplicate ranks first") {
    import graft.pipeline.Similarity
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f)),
      (1L, Array(1.0f, 0.0f, 0.5f)),   // duplicate of 0
      (2L, Array(0.0f, 1.0f, -0.25f)),
      (3L, Array(-0.6f, 0.3f, 0.9f)),
      (4L, Array(0.0f, 0.0f, 0.0f))    // zero vector
    ).toDF("vec_id", "embedding")
    // reconstruction: |code*scale - v| <= scale/2 for every component
    val qz = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2))).toMap
    val orig = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for ((id, (scale, codes)) <- qz; (c, v) <- codes.zip(orig(id))) {
      assert(math.abs(c * scale - v) <= scale / 2 + 1e-9, s"vec $id")
      assert(math.abs(c) <= 127)
    }
    assert(qz(4L)._1 == 0.0 && qz(4L)._2.forall(_ == 0))
    // search: the exact duplicate is rank 1 with cosine 1
    val top = Similarity.knnInt8(emb, emb.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").collect()
    assert(top(0).getLong(1) == 1L && top(0).getDouble(2) == 1.0)
    assert(top(0).getInt(3) == 1)
  }

  test("annIvfInt8 with all lists probed == knnInt8 (coarse stage prunes, never re-ranks)") {
    import graft.pipeline.Similarity
    val emb = (0L until 60L).map { i =>
      (i, (0 until 12).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val full = Similarity.annIvfInt8(emb, queries,
      nlist = 6, nprobe = 6, k = 5)
    val flat = Similarity.knnInt8(emb, queries, k = 5)
    assert(full.exceptAll(flat).isEmpty && flat.exceptAll(full).isEmpty)
    assert(flat.count() == 25)
  }

  test("annIvf: probes nearest centroid lists, ranks like brute force there") {
    // nlist=2 picks the two smallest scrambled ids of {0,1,2,3,5} — ids 0
    // and 5 — so the data puts those on the two axes; two clear clusters
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.95f, 0.05f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.05f, 0.95f)),
      (5L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = rowsOf(Similarity.annIvf(
      emb, emb.filter($"vec_id" === 0L), nlist = 2, nprobe = 1, k = 10))
    // nprobe=1: only the x-axis list {0,1,2} is searched → neighbors 1 and 2
    assert(out.map(_("nbr_id")).toSet == Set(1L, 2L))
    assert(out.find(_("rank") == 1).get("nbr_id") == 1L)
  }

  test("annIvf with all lists probed matches knnBruteForce") {
    val emb = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(d => math.sin(i * 3 + d).toFloat))).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 2L)
    val ivf = rowsOf(Similarity.annIvf(emb, q, nlist = 3, nprobe = 3, k = 5))
      .map(r => (r("query_id"), r("rank"), r("nbr_id")))
    val bf = rowsOf(Similarity.knnBruteForce(emb, q, 5))
      .map(r => (r("query_id"), r("rank"), r("nbr_id")))
    assert(ivf.toSet == bf.toSet)
  }

  test("annIvfKmeans: trained quantizer separates clusters; full probe == brute force") {
    // two tight clusters around the axes
    val emb = ((0 until 6).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.0f))) ++
      (6 until 12).map(i => (i.toLong, Array(0.0f, 1.0f + i * 0.01f)))).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0L)
    val one = rowsOf(Similarity.annIvfKmeans(emb, q, nlist = 2, nprobe = 1, k = 20))
    // nprobe=1: only the x-cluster list is searched
    assert(one.map(_("nbr_id").asInstanceOf[Long]).toSet == Set(1L, 2L, 3L, 4L, 5L))
    val all = rowsOf(Similarity.annIvfKmeans(emb, q, nlist = 2, nprobe = 2, k = 5))
      .map(r => (r("rank"), r("nbr_id")))
    val bf = rowsOf(Similarity.knnBruteForce(emb, q, 5))
      .map(r => (r("rank"), r("nbr_id")))
    assert(all.toSet == bf.toSet)
  }

  test("annLsh: identical vectors share bucket and score 1") {
    val emb = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val out = rowsOf(Similarity.annLsh(emb, planes = 6, minCosine = 0.9))
    assert(out.exists(r => r("vec_a") == 0L && r("vec_b") == 1L &&
      r("cosine") == 1.0d))
  }

  test("annLshBanded: OR-amplified recall >= single-table; pairs deduped") {
    // 12 near-dup pairs (2c, 2c+1) differing in one dim by 1e-3, plus the
    // spread the sin() base gives across clusters
    val base = (0 until 12).map(c => Array.tabulate(8)(d => math.sin(c * 5 + d).toFloat))
    val vecs = base.zipWithIndex.flatMap { case (v, c) =>
      Seq((c * 2L, v), (c * 2L + 1L, v.updated(0, v(0) + 0.001f)))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cosine(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    assert(truth.size >= 12) // at least the constructed near-dup pairs
    def found(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      rowsOf(df).map(r => (r("vec_a").asInstanceOf[Long], r("vec_b").asInstanceOf[Long]))
    val banded = found(Similarity.annLshBanded(emb, planes = 16, bands = 4, minCosine = 0.9))
    val single = found(Similarity.annLsh(emb, planes = 8, minCosine = 0.9))
    assert(banded.size == banded.distinct.size) // multi-band hits deduped
    val bandedRecall = (banded.toSet intersect truth).size
    val singleRecall = (single.toSet intersect truth).size
    assert(bandedRecall >= singleRecall)
    // identical-up-to-1e-3 pairs share every band unless a projection sits
    // exactly at the sign boundary — all 12 must surface
    assert((0 until 12).forall(c => banded.contains((c * 2L, c * 2L + 1L))))
  }

  test("dedupByCosine on banded LSH removes a superset of the single-table set") {
    // same near-dup cluster fixture as the recall test
    val base = (0 until 12).map(c => Array.tabulate(8)(d => math.sin(c * 5 + d).toFloat))
    val vecs = base.zipWithIndex.flatMap { case (v, c) =>
      Seq((c * 2L, v), (c * 2L + 1L, v.updated(0, v(0) + 0.001f)))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    def survivors(df: org.apache.spark.sql.DataFrame): Set[Long] =
      rowsOf(df).map(_("vec_id").asInstanceOf[Long]).toSet
    val banded = survivors(Similarity.dedupByCosine(emb, planes = 16,
      minCosine = 0.9, bands = 4))
    val single = survivors(Similarity.dedupByCosine(emb, planes = 8,
      minCosine = 0.9))
    // bands 0-1 of the 16-plane signature reproduce the 8-plane bucket, so
    // banded candidates ⊇ single-table candidates at equal minCosine:
    // banded dedup removes at least as much
    assert(banded.subsetOf(single))
    // every odd twin is dropped: its lower-id even partner always shares
    // all bands (cosine 1 up to the 1e-3 nudge), so the twin can never be
    // a canonical survivor (cross-cluster matches may drop some even
    // vectors too — fine, that's more dedup, covered by the subset check)
    assert((0 until 12).forall(c => !banded.contains(c * 2L + 1L)))
  }

  test("vocab and bpePairCounts: exact frequency tables with deterministic ties") {
    val out = rowsOf(TextPipeline.vocab(docs(1L -> "b a a c b a"), 2))
    assert(out.map(r => (r("token"), r("cnt"))) == Seq(("a", 3L), ("b", 2L)))
    val pairs = rowsOf(TextPipeline.bpePairCounts(docs(1L -> "abab ab x"), 3))
    // "abab": ab ba ab; "ab": ab; "x": too short -> ab=3, ba=1
    assert(pairs.map(r => (r("pair"), r("cnt"))) == Seq(("ab", 3L), ("ba", 1L)))
  }

  test("pqCodes/annPq: identical vectors share codes; ADC ranks the duplicate first") {
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.fill(8)(base * (1.0f + (i / 2) * 0.01f)))
    } :+ (21L, Seq.fill(8)(1.0f)) // exact duplicate of vec 0
    val emb = vecs.toDF("vec_id", "embedding")
    val codes = rowsOf(graft.pipeline.Similarity.pqCodes(emb, m = 4, ksub = 4))
      .map(r => r("vec_id") -> r("codes")).toMap
    assert(codes.size == 21)
    assert(codes(21L) == codes(0L)) // identical vector, identical codes
    // ADC search from the duplicate: minimal possible table sum is achieved
    // exactly by vectors sharing the query's argmin codes — vec 0 is the
    // lowest such id, so the id tie-break puts it at rank 1
    val top = rowsOf(graft.pipeline.Similarity.annPq(
      emb, emb.filter(col("vec_id") === 21), m = 4, ksub = 4, k = 3))
      .minBy(_("rank").asInstanceOf[Int])
    assert(top("nbr_id") == 0L)
  }

  test("pqCodes: non-divisible dim — last subspace absorbs the remainder") {
    // 7-dim vectors, m=4: subspace widths 1/1/1/4. Vectors a and b differ
    // ONLY in components 6..7, which a truncated size/m split would drop
    // from every subvector; with the remainder folded into the last
    // subspace they must code differently there.
    val emb = Seq(
      (0L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 0f, 0f, 0f, 9f, 9f))).toDF("vec_id", "embedding")
    val codes = rowsOf(graft.pipeline.Similarity.pqCodes(emb, m = 4, ksub = 2))
      .map(r => r("vec_id") -> r("codes")).toMap
    // each vector is its own codebook entry (ksub=2) → distance-0 self code
    assert(codes(0L) != codes(1L))
    assert(codes(0L).asInstanceOf[String].split("-").take(3).toSeq ==
      codes(1L).asInstanceOf[String].split("-").take(3).toSeq)
  }

  test("annIvfPq with all lists probed == annPq (coarse stage prunes, never re-ranks)") {
    import graft.pipeline.Similarity
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.fill(8)(base * (1.0f + (i / 2) * 0.01f)))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    def asTuples(rows: Seq[Map[String, Any]]) =
      rows.map(r => (r("query_id"), r("nbr_id"), r("approx_d2"), r("rank"))).toSet
    val full = asTuples(rowsOf(Similarity.annPq(emb, queries, m = 4, ksub = 4, k = 5)))
    val ivfpq = asTuples(rowsOf(Similarity.annIvfPq(emb, queries,
      nlist = 6, nprobe = 6, m = 4, ksub = 4, k = 5)))
    assert(ivfpq == full)
  }

  test("recallAtK: exact-vs-self is 1.0; all-lists IVF recalls brute force fully") {
    import graft.pipeline.Similarity
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.fill(8)(base * (1.0f + (i / 2) * 0.01f)))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    val exact = Similarity.knnBruteForce(emb, queries, 5)
    def recalls(approx: org.apache.spark.sql.DataFrame) =
      rowsOf(Similarity.recallAtK(approx, exact, 5)).map(_("recall"))
    assert(recalls(exact).forall(_ == 1.0))
    assert(recalls(Similarity.annIvf(emb, queries, nlist = 4, nprobe = 4, k = 5))
      .forall(_ == 1.0))
    // probing 1 of 4 lists can miss neighbors — recall stays a valid fraction
    assert(recalls(Similarity.annIvf(emb, queries, nlist = 4, nprobe = 1, k = 5))
      .forall(r => { val d = r.asInstanceOf[Double]; d >= 0.0 && d <= 1.0 }))
  }

  test("annIvfPqResidual: ADC over residual codes still ranks the duplicate first") {
    import graft.pipeline.Similarity
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.fill(8)(base * (1.0f + (i / 2) * 0.01f)))
    } :+ (21L, Seq.fill(8)(1.0f)) // exact duplicate of vec 0
    val emb = vecs.toDF("vec_id", "embedding")
    val top = rowsOf(Similarity.annIvfPqResidual(
      emb, emb.filter(col("vec_id") === 21),
      nlist = 4, nprobe = 4, m = 4, ksub = 4, k = 3))
      .minBy(_("rank").asInstanceOf[Int])
    // identical vector -> identical residual -> identical codes -> minimal
    // ADC sum; id tie-break puts the duplicate at rank 1
    assert(top("nbr_id") == 0L)
  }

  test("simhashCandidates: near-identical docs pair with small hamming, disjoint don't") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val out = rowsOf(TextPipeline.simhashCandidates(docs(
      1L -> base,
      2L -> base,                                   // identical -> hamming 0
      3L -> "completely different vocabulary set entirely unrelated words")))
    val pairs = out.map(r => (r("doc_a"), r("doc_b"), r("hamming"))).toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!out.exists(r => r("doc_a") == 3L || r("doc_b") == 3L)
      || out.filter(r => r("doc_b") == 3L).forall(_("hamming").asInstanceOf[Int] <= 3))
  }

  test("simhashCandidatesWide: 94-bit tier pairs dups, respects cap, remap matches") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val out = rowsOf(TextPipeline.simhashCandidatesWide(docs(
      1L -> base,
      2L -> base,                                   // identical -> hamming 0
      3L -> "completely different vocabulary set entirely unrelated words")))
    val pairs = out.map(r => (r("doc_a"), r("doc_b"), r("hamming"))).toSet
    assert(pairs.contains((1L, 2L, 0)))
    // 94-bit hamming is summed over both folds; the disjoint doc must
    // not land within 3 of either dup
    assert(!out.exists(r => r("doc_a") == 3L || r("doc_b") == 3L))
    // cap semantics identical to the 47-bit tier: hot bucket dropped,
    // small-bucket pair survives
    val corpus = docs((1L to 6L).map(i =>
      i -> "alpha beta gamma delta epsilon zeta") ++ Seq(
      7L -> "one two three four five six seven eight",
      8L -> "one two three four five six seven eight"): _*)
    def wPairs(maxBucket: Long) =
      rowsOf(TextPipeline.simhashCandidatesWide(corpus, maxBucket = maxBucket))
        .map(r => (r("doc_a"), r("doc_b"))).toSet
    assert(wPairs(4L).subsetOf(wPairs(0L)))
    assert(wPairs(4L).contains((7L, 8L)) && !wPairs(4L).contains((1L, 2L)))
    // the native affine remap IS the documented arithmetic (the DuckDB
    // oracle replicates this formula verbatim — drift here would show
    // up as an oracle mismatch, pin it at the unit level too)
    val hs = Seq(0L, 1L, 140737488355212L, 987654321098765L % 140737488355213L)
    val remapped = rowsOf(spark.range(1)
        .select(graft.expressions.TextExpressions
          .polyRemap47(array(hs.map(lit): _*)).as("r")))
      .head("r").asInstanceOf[scala.collection.Seq[Long]].toSeq
    val expect = hs.map(h =>
      ((h >>> 23) * 48271L + (h & 0x7FFFFFL) * 16807L + 11213L) % 140737488355213L)
    assert(remapped == expect)
    spark.catalog.clearCache()
  }

  test("corpusReport: per-source doc/token/uniq-text composition") {
    import graft.pipeline.Curation
    val d = Seq(
      (1L, "one two three", "sA"), (2L, "one two three", "sA"),
      (3L, "four five", "sA"), (4L, "six", "sB"))
      .toDF("doc_id", "text", "source")
    val out = rowsOf(Curation.corpusReport(d)).map(r => r("source") -> r).toMap
    assert(out("sA")("n_docs") == 3L && out("sA")("n_uniq_texts") == 2L)
    assert(out("sA")("total_tokens") == 8L)
    assert(out("sA")("avg_tokens") == 2.67) // round(8/3, 2)
    assert(out("sB")("n_docs") == 1L && out("sB")("total_tokens") == 1L)
  }

  test("editDistancePairs: typo'd twins confirm within maxDist, unrelated docs never pair") {
    import graft.pipeline.TextPipeline
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonite"), // d=3 vs 1
      (3L, "the quick brown fox jumps over the lazy cat tonight"), // d=3 vs 1
      (4L, "completely unrelated text about other topics entirely"),
      (5L, "the quick brown fox jumps over the lazy dog tonight")) // exact dup of 1
      .toDF("doc_id", "text")
    val got = rowsOf(TextPipeline.editDistancePairs(d, maxDist = 3, maxDf = 0))
      .map(r => (r("doc_a"), r("doc_b")) -> r("dist")).toMap
    // (2,3) is d=6 (two independent edits) and every pair with 4 is d=44+
    assert(got == Map(
      (1L, 2L) -> 3L, (1L, 3L) -> 3L, (1L, 5L) -> 0L,
      (2L, 5L) -> 3L, (3L, 5L) -> 3L))
  }

  test("corpusDrift: zero for identical snapshots, positive under drift, per-source isolation") {
    import graft.pipeline.Curation
    val prev = Seq(
      (1L, "alpha beta alpha gamma", "sA"),
      (2L, "one two three", "sB")).toDF("doc_id", "text", "source")
    val same = Seq(
      (11L, "alpha beta alpha gamma", "sA"),
      (12L, "one two three", "sB")).toDF("doc_id", "text", "source")
    val zero = rowsOf(Curation.corpusDrift(prev, same))
      .map(r => r("source") -> r).toMap
    // identical counts -> every log-ratio is exactly 0 -> KL exactly 0
    assert(zero("sA")("kl") == 0.0 && zero("sB")("kl") == 0.0)
    assert(zero("sA")("prev_tokens") == 4L && zero("sA")("cur_tokens") == 4L
      && zero("sA")("vocab") == 3L)
    // sA drifts (novel token dominates), sB unchanged -> only sA moves
    val drifted = Seq(
      (21L, "delta delta delta delta", "sA"),
      (22L, "one two three", "sB")).toDF("doc_id", "text", "source")
    val out = rowsOf(Curation.corpusDrift(prev, drifted))
      .map(r => r("source") -> r).toMap
    assert(out("sA")("kl").asInstanceOf[Double] > 0.5)
    assert(out("sB")("kl") == 0.0)
    assert(out("sA")("vocab") == 4L) // union support: alpha beta gamma delta
  }

  test("mixtureSolve: exact integer allocation, epochs > 1 flags upsampling, unweighted sources dropped") {
    import graft.pipeline.Curation
    val d = Seq(
      (1L, "one two three four", "big"),   // 4 toks
      (2L, "five six seven eight", "big"), // 4 toks -> big: 8
      (3L, "tiny doc", "small"),           // small: 2
      (4L, "ignored entirely", "other"))   // no target weight
      .toDF("doc_id", "text", "source")
    val out = rowsOf(Curation.mixtureSolve(d,
      Map("big" -> 3L, "small" -> 1L), tokenBudget = 100L))
      .map(r => r("source") -> r).toMap
    assert(out.keySet == Set("big", "small")) // 'other' dropped
    assert(out("big")("total_tokens") == 8L)
    assert(out("big")("target_tokens") == 75L)   // 100*3 div 4
    assert(out("small")("target_tokens") == 25L) // 100*1 div 4
    assert(out("big")("epochs") == 9.375)        // 75/8
    assert(out("small")("epochs") == 12.5)       // 25/2 -> upsampled
    // a weighted source ABSENT from the corpus must surface, not vanish:
    // its budget share is visible (target_tokens sums to ~budget) with
    // total_tokens=0 and epochs null (r14 ADVICE — the typo'd-source trap)
    val withGhost = rowsOf(Curation.mixtureSolve(d,
      Map("big" -> 3L, "small" -> 1L, "ghost" -> 4L), tokenBudget = 100L))
      .map(r => r("source") -> r).toMap
    assert(withGhost.keySet == Set("big", "small", "ghost"))
    assert(withGhost("ghost")("total_tokens") == 0L)
    assert(withGhost("ghost")("target_tokens") == 50L) // 100*4 div 8
    assert(withGhost("ghost")("epochs") == null)
    // floors sum to budget within nSources-1 — and crucially the
    // ghost's 50-token share is IN the sum, not silently dropped
    assert(withGhost.values.map(_("target_tokens").asInstanceOf[Long]).sum
      == 99L)
    intercept[IllegalArgumentException] {
      Curation.mixtureSolve(d, Map("big" -> 0L), 10L)
    }
    intercept[IllegalArgumentException] {
      Curation.mixtureSolve(d, Map("big" -> Long.MaxValue / 2), 10L)
    }
    // plan: outer-ness must not cost the broadcast — the weight table is
    // the streamed PRESERVED side, the per-source aggregate the build
    // side (LeftOuter CAN build right; the old right-outer hint could
    // not apply and silently planned differently than documented)
    val plan = Curation.mixtureSolve(d, Map("big" -> 1L), 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftOuter, BuildRight"),
      s"expected LeftOuter broadcast-hash join building the aggregate:\n$plan")
  }

  // ----- Curation --------------------------------------------------------

  test("contamination counts benchmark n-gram overlap; decontaminate drops") {
    import graft.pipeline.Curation
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon", // shares 3-grams with bench
      2L -> "one two three four five",        // disjoint
      3L -> "alpha beta gamma zeta")          // shares exactly one 3-gram
    val bench = docs(100L -> "alpha beta gamma delta")
    val c = rowsOf(Curation.contamination(corpus, bench, n = 3))
      .map(r => r("doc_id") -> r("overlap_ngrams")).toMap
    // doc 1: "alpha beta gamma" + "beta gamma delta"; doc 3: first only
    assert(c == Map(1L -> 2L, 3L -> 1L))
    val kept = rowsOf(Curation.decontaminate(corpus, bench, n = 3))
      .map(_("doc_id")).toSet
    assert(kept == Set(2L))
    // higher tolerance keeps the single-overlap doc
    val kept1 = rowsOf(Curation.decontaminate(corpus, bench, n = 3,
      maxOverlap = 1L)).map(_("doc_id")).toSet
    assert(kept1 == Set(2L, 3L))
  }

  test("repetitionStats: duplicate word/2-gram fractions, zero for gram-less docs") {
    import graft.pipeline.Curation
    val out = rowsOf(Curation.repetitionStats(docs(
      1L -> "spam spam spam eggs", // 4 words, 2 uniq; 3 2-grams, 2 uniq
      2L -> "all distinct words here",
      3L -> "single")))            // no 2-grams at all
      .map(r => r("doc_id") -> r).toMap
    assert(out(1L)("dup_word_frac") == 0.5)
    assert(out(1L)("dup_2gram_frac") == 0.333333) // round(1/3, 6)
    assert(out(1L)("top_2gram_frac") == 0.666667) // "spam spam" ×2, round(2/3, 6)
    assert(out(2L)("dup_word_frac") == 0.0)
    assert(out(3L)("dup_2gram_frac") == 0.0 && out(3L)("top_2gram_frac") == 0.0)
  }

  test("redact: sequential email/IP/number scrub with per-stage counts") {
    import graft.pipeline.Curation
    val out = rowsOf(Curation.redact(docs(
      1L -> "mail bob.smith+x@corp.example.org from 192.168.1.250 ref 123456789 ok",
      2L -> "clean text, no pii here 123")))
      .map(r => r("doc_id") -> r).toMap
    assert(out(1L)("n_emails") == 1 && out(1L)("n_ips") == 1 && out(1L)("n_nums") == 1)
    assert(out(1L)("text_redacted") == "mail [EMAIL] from [IP] ref [NUM] ok")
    assert(out(2L)("n_emails") == 0 && out(2L)("n_ips") == 0 && out(2L)("n_nums") == 0)
    assert(out(2L)("text_redacted") == "clean text, no pii here 123")
  }

  test("chunk: stride windows, short tail kept, empty docs dropped") {
    import graft.pipeline.Curation
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val out = rowsOf(Curation.chunk(docs(1L -> ten, 2L -> "a b", 3L -> " "),
      chunkSize = 4, stride = 3))
    val byDoc = out.groupBy(_("doc_id"))
    // n=10: 1 + ceil((10-4)/3) = 3 chunks at offsets 0,3,6 — [1-4],[4-7],[7-10]
    assert(byDoc(1L).size == 3)
    val c = byDoc(1L).map(r => r("chunk_id") -> r).toMap
    assert(c(0)("chunk_text") == "w1 w2 w3 w4")
    assert(c(1)("chunk_text") == "w4 w5 w6 w7")
    assert(c(2)("chunk_text") == "w7 w8 w9 w10")
    assert(c(2)("n_chunk_tokens") == 4)
    // n=2 < chunkSize: one short chunk; blank doc: no chunks
    assert(byDoc(2L).map(r => (r("chunk_id"), r("n_chunk_tokens"), r("chunk_text")))
      == Seq((0, 2, "a b")))
    assert(!byDoc.contains(3L))
  }

  test("clusterComponents: star edges give the same components as all-pairs edges") {
    import graft.pipeline.{Curation, TextPipeline}
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // a mix of one big duplicate family (the mega-class shape in
    // miniature), chained near-dups, and unique docs
    val corpus = (0L until 80L).map { i =>
      val text = if (i % 4 == 0) a
      else if (i % 4 == 1) a.replace("kappa", s"mut$i")
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    val star = rowsOf(Curation.clusterComponents(corpus))
      .map(r => r("doc_id") -> r("component")).toMap
    // CC straight over the all-pairs candidate graph; unpaired docs are
    // their own component, as clusterComponents labels them
    val pairs = rowsOf(Curation.connectedComponentsStar(
        TextPipeline.minhashCandidates(corpus)))
      .map(r => r("id") -> r("component")).toMap
    assert(star == star.keys.map(d => d -> pairs.getOrElse(d, d)).toMap)
    // and the edge count is per-bucket LINEAR: the hub form never emits
    // more edges than (doc, bucket) memberships, while all-pairs owes
    // C(d,2) per bucket on the 20-member duplicate family
    val starEdges = TextPipeline.minhashBucketStarEdges(corpus).count()
    val pairEdges = TextPipeline.minhashCandidates(corpus).count()
    assert(starEdges < pairEdges,
      s"star=$starEdges should undercut all-pairs=$pairEdges here")
  }

  test("IncrementalDedup: batched ingest reproduces batch candidates, no re-emission") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (0L until 60L).map { i =>
      val text = if (i % 7 == 0) a
      else if (i % 7 == 1) a.replace("kappa", s"mut$i")
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inc_dedup").toString
    // three uneven increments
    val outs = Seq(
      IncrementalDedup.ingest(dir, corpus.filter(col("doc_id") < 15)),
      IncrementalDedup.ingest(dir, corpus.filter(col("doc_id") >= 15 && col("doc_id") < 40)),
      IncrementalDedup.ingest(dir, corpus.filter(col("doc_id") >= 40)))
    val all = outs.reduce(_ union _)
    // exactly-once: increments are disjoint even before distinct
    assert(all.count() == all.distinct().count())
    val batch = TextPipeline.minhashCandidates(corpus)
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
    // every pair lands in the increment of its LATER member
    val firstOut = outs.head
    assert(firstOut.filter(col("doc_b") >= 15).count() == 0)
  }

  test("IncrementalDedup: pre-poly-31 minhash store is refused, not silently unmatched") {
    import graft.pipeline.IncrementalDedup
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // a store with committed band keys but no format marker — the shape
    // any store built before the poly-31 band-key encoding has
    val legacy = java.nio.file.Files.createTempDirectory("inc_legacy").toString
    Seq((1L, "0_12-34-56-78")).toDF("doc_id", "bucket")
      .write.parquet(s"$legacy/keys/ingest_old")
    val ex = intercept[IllegalStateException] {
      IncrementalDedup.ingest(legacy, docs)
    }
    assert(ex.getMessage.contains("poly-31"))
    // a fresh store gets the marker and keeps working across ingests
    val fresh = java.nio.file.Files.createTempDirectory("inc_fresh").toString
    IncrementalDedup.ingest(fresh, docs).count()
    assert(new java.io.File(
      s"$fresh/_format/minhash_bandkeys_p31").exists())
    IncrementalDedup.ingest(fresh,
      Seq((2L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")).count()
  }

  test("IncrementalDedup: cross-scheme simhash store mixups are refused, not silently empty") {
    import graft.pipeline.IncrementalDedup
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // a 47-bit store pointed at the wide ingest (and vice versa) shares
    // the string-typed `keys` table but never matches buckets, and the
    // missing sigs/sigs_wide payload snapshots as an EMPTY frame — the
    // exact silent-loss shape the per-scheme marker exists to refuse
    val narrow = java.nio.file.Files.createTempDirectory("inc_sh47").toString
    IncrementalDedup.ingestSimhash(narrow, docs).count()
    assert(new java.io.File(
      s"$narrow/_format/simhash47_bandkeys_p31").exists())
    val exWide = intercept[IllegalStateException] {
      IncrementalDedup.ingestSimhashWide(narrow, docs)
    }
    assert(exWide.getMessage.contains("simhash94_bandkeys") &&
      exWide.getMessage.contains("simhash47_bandkeys_p31"))
    val wide = java.nio.file.Files.createTempDirectory("inc_sh94").toString
    IncrementalDedup.ingestSimhashWide(wide, docs).count()
    assert(new java.io.File(s"$wide/_format/simhash94_bandkeys").exists())
    val exNarrow = intercept[IllegalStateException] {
      IncrementalDedup.ingestSimhash(wide, docs)
    }
    assert(exNarrow.getMessage.contains("simhash47_bandkeys_p31"))
    // minhash ingest refuses both foreign stores the same way
    val exMin = intercept[IllegalStateException] {
      IncrementalDedup.ingest(narrow, docs)
    }
    assert(exMin.getMessage.contains("minhash_bandkeys_p31"))
    // an ABORTED first ingest (marker written, no keys committed yet)
    // must refuse a foreign scheme too: if 47-bit claimed this dir
    // because "keys is empty", the wide pipeline's RESUME would find its
    // own marker present and silently share the mismatched keys table —
    // the foreign-marker check cannot depend on committed keys
    val aborted = java.nio.file.Files.createTempDirectory("inc_abort").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$aborted/_format"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$aborted/_format/simhash94_bandkeys"))
    val exAbort = intercept[IllegalStateException] {
      IncrementalDedup.ingestSimhash(aborted, docs)
    }
    assert(exAbort.getMessage.contains("simhash94_bandkeys"))
    // while the aborted dir's OWN scheme resumes cleanly
    IncrementalDedup.ingestSimhashWide(aborted, docs).count()
  }

  test("IncrementalDedup: hand-deleted format marker refuses resume for every scheme") {
    import graft.pipeline.IncrementalDedup
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // the adversarial corner the aborted-ingest fix left open: an
    // operator deletes the marker FILE by hand (marker absent, keys
    // committed). Committed keys without this build's marker are
    // indistinguishable from a pre-encoding or cross-scheme store, so
    // the store's OWN scheme must refuse too — for ALL three schemes,
    // not just minhash
    val cases = Seq[(String,
        (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)](
      ("minhash_bandkeys_p31", (d, df) => IncrementalDedup.ingest(d, df)),
      ("simhash47_bandkeys_p31", (d, df) => IncrementalDedup.ingestSimhash(d, df)),
      ("simhash94_bandkeys", (d, df) => IncrementalDedup.ingestSimhashWide(d, df)))
    cases.foreach { case (marker, ingest) =>
      val dir = java.nio.file.Files.createTempDirectory("inc_nomark").toString
      ingest(dir, docs).count() // healthy store: marker + committed keys
      val mk = java.nio.file.Paths.get(s"$dir/_format/$marker")
      assert(java.nio.file.Files.deleteIfExists(mk),
        s"fixture: $marker was never written")
      val ex = intercept[IllegalStateException] { ingest(dir, docs).count() }
      assert(ex.getMessage.contains(marker),
        s"$marker refusal must name the missing marker: ${ex.getMessage}")
      assert(ex.getMessage.contains("committed band keys"),
        s"$marker refusal must say WHY (keys without marker)")
    }
  }

  test("IncrementalDedup.ingestSimhash: batched ingest equals batch simhash candidates") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (0L until 45L).map { i =>
      val text = if (i % 6 == 0) base
      else if (i % 6 == 1) base.replace("kappa", s"mut$i")
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inc_simhash").toString
    val all = Seq(0L -> 20L, 20L -> 33L, 33L -> 45L).map { case (lo, hi) =>
      IncrementalDedup.ingestSimhash(dir,
        corpus.filter(col("doc_id") >= lo && col("doc_id") < hi))
    }.reduce(_ union _)
    assert(all.count() == all.distinct().count())
    val batch = TextPipeline.simhashCandidates(corpus)
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
  }

  test("ingestSimhash bucket-local confirm: carry paths (tiled, capped) match the " +
      "batch twin and the store schema is unchanged") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (0L until 45L).map { i =>
      val text = if (i % 6 == 0) base
      else if (i % 6 == 1) base.replace("kappa", s"mut$i")
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    // tiled within-batch pair generation (tileTarget engaged, single
    // batch = empty store, so every pair takes the carry-through-tiles
    // path) must equal the batch twin's tiled form
    val dirT = java.nio.file.Files.createTempDirectory("inc_sh_tile").toString
    val tiled = IncrementalDedup.ingestSimhash(dirT, corpus, tileTarget = 5L)
    val batchTiled = TextPipeline.simhashCandidates(corpus, tileTarget = 5L)
    assert(tiled.exceptAll(batchTiled).isEmpty &&
      batchTiled.exceptAll(tiled).isEmpty)
    // capped store×new branch: second ingest against the now-populated
    // store with maxBucket engaged must equal the legacy shape's
    // semantics — the cap applies to the RE-DERIVED store keys exactly
    // as it did to the keys table (same rows per bucket by construction)
    val dirC = java.nio.file.Files.createTempDirectory("inc_sh_cap").toString
    val b1 = corpus.filter(col("doc_id") < 30)
    val b2 = corpus.filter(col("doc_id") >= 30)
    IncrementalDedup.ingestSimhash(dirC, b1).count()
    val second = IncrementalDedup.ingestSimhash(dirC, b2, maxBucket = 4L)
    // every emitted pair is hamming-confirmed and oriented a < b
    assert(second.filter(col("hamming") > 3 ||
      col("doc_a") >= col("doc_b")).isEmpty)
    // the cap only CENSORS (never invents): capped emission ⊆ uncapped
    // emission of the identical second batch against an identical store
    val dirU = java.nio.file.Files.createTempDirectory("inc_sh_cap_u").toString
    IncrementalDedup.ingestSimhash(dirU, b1).count()
    val secondUncapped = IncrementalDedup.ingestSimhash(dirU, b2)
    assert(second.exceptAll(secondUncapped).isEmpty)
    assert(second.count() < secondUncapped.count(),
      "cap must actually censor on this corpus or the subset pin is vacuous")
    // the keys table keeps the pinned (doc_id long, bucket string)
    // store schema even though the read path now derives keys from sigs
    val keysOnDisk = spark.read.parquet(
      new java.io.File(s"$dirC/keys").listFiles()
        .filter(_.getName.startsWith("ingest_")).map(_.toString): _*)
    assert(keysOnDisk.schema.map(f => (f.name, f.dataType.simpleString))
      .toSet == Set(("doc_id", "bigint"), ("bucket", "string")))
    spark.catalog.clearCache()
  }

  test("IncrementalDedup.ingestSimhashWide: batched ingest equals batch wide candidates") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (0L until 45L).map { i =>
      val text = if (i % 6 == 0) base
      else if (i % 6 == 1) base.replace("kappa", s"mut$i")
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inc_simhash_w").toString
    val all = Seq(0L -> 20L, 20L -> 33L, 33L -> 45L).map { case (lo, hi) =>
      IncrementalDedup.ingestSimhashWide(dir,
        corpus.filter(col("doc_id") >= lo && col("doc_id") < hi))
    }.reduce(_ union _)
    assert(all.count() == all.distinct().count())
    val batch = TextPipeline.simhashCandidatesWide(corpus)
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
    spark.catalog.clearCache()
  }

  test("IncrementalDedup.ingestEditDistance: batched ingest equals batch editDistancePairs, exactly once") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (0L until 45L).map { i =>
      val text = if (i % 6 == 0) base
      else if (i % 6 == 1) base.replace("kappa", s"mu$i") // small edit
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inc_ed").toString
    val all = Seq(0L -> 20L, 20L -> 33L, 33L -> 45L).map { case (lo, hi) =>
      IncrementalDedup.ingestEditDistance(dir,
        corpus.filter(col("doc_id") >= lo && col("doc_id") < hi),
        maxDist = 8, n = 2)
    }.reduce(_ union _)
    assert(all.count() == all.distinct().count()) // exactly-once
    val batch = TextPipeline.editDistancePairs(corpus, maxDist = 8, n = 2,
      maxDf = 0L)
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
    assert(batch.count() > 0) // the parity pin must not be vacuous
  }

  test("ingestEditDistance within-batch length bound: pre-join prune fires, store schema unchanged") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    // Same-batch docs sharing MANY shingles but lengths apart by far
    // more than maxDist: the pre-aggregate length bound must drop the pair
    // inside the h-keyed self-join (it can never confirm), while the
    // 1-edit twin pair survives — and the batch twin agrees on both.
    val p = (1 to 30).map(i => s"w$i").mkString(" ")
    val tail = (1 to 60).map(i => s"extra$i").mkString(" ")
    val b = Seq(
      (0L, s"$p cat"), (1L, s"$p cab"),   // 1 edit apart, pair expected
      (2L, s"$p $tail")                   // shares p, len gap >> maxDist
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inc_ed_len").toString
    val got = IncrementalDedup.ingestEditDistance(dir, b, maxDist = 2, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 1L)), got)
    val batch = TextPipeline.editDistancePairs(b, maxDist = 2, n = 2,
      maxDf = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch, s"got $got batch $batch")
    // the len column rides only the in-flight index: the persisted
    // ed_keys table keeps its exact (doc_id, h) schema
    val keys = spark.read.parquet(s"$dir/ed_keys/ingest_*")
    assert(keys.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq(("doc_id", "long"), ("h", "long")), keys.schema.treeString)
  }

  test("ingestEditDistance df cap: retroactive re-censoring keeps the count bound recall-safe") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    // A 40-word boilerplate prefix P shared by every doc: its shingles
    // have df 2 after batch 1 (<= cap 3, so doc 0's keys/meta are
    // stored while P is still rare) and df 4 after batch 2 (> cap).
    // Pair (0, 2) then shares exactly ONE surviving shingle ("w40
    // rare") against ~39 censored ones, so with maxDist=1 (slack
    // maxDist*(n+1) = 3) the count bound ADMITS it only if doc 0's
    // effective rare count is recomputed under today's censor set
    // (41 - 39 = 2): with the stale stored count (41) the bound
    // demands shared >= 38 and wrongly prunes a true 1-edit pair.
    val p = (1 to 40).map(i => s"w$i").mkString(" ")
    val b1 = Seq((0L, s"$p rare cat"), (1L, s"$p zzz dog"))
      .toDF("doc_id", "text")
    val b2 = Seq((2L, s"$p rare cab"), (3L, s"$p yyy emu"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inc_ed_cap").toString
    val out = IncrementalDedup
      .ingestEditDistance(dir, b1, maxDist = 1, n = 2, maxDf = 3L)
      .union(IncrementalDedup
        .ingestEditDistance(dir, b2, maxDist = 1, n = 2, maxDf = 3L))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((0L, 2L, 1L)), got) // cat -> cab, one edit
    // no false positives vs the uncapped batch truth
    val truth = TextPipeline
      .editDistancePairs(b1.union(b2), maxDist = 1, n = 2, maxDf = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.subsetOf(truth), s"got $got truth $truth")
  }

  test("IncrementalDedup: a crash between table writes leaves the batch invisible; re-ingest is clean") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (0L until 30L).map { i =>
      val text = if (i % 6 == 0) base
      else if (i % 6 == 1) base.replace("kappa", s"mut$i")
      else s"unique words only document number $i with filler ${i * 31}"
      (i, text)
    }.toDF("doc_id", "text")
    val b1 = corpus.filter(col("doc_id") < 15)
    val b2 = corpus.filter(col("doc_id") >= 15)
    val dir = java.nio.file.Files.createTempDirectory("inc_crash").toString
    val first = IncrementalDedup.ingestSimhash(dir, b1)
    first.count()
    // simulate the crash-BETWEEN-writes interleaving for b2: its band
    // keys are staged (the pre-fix code would have made them LIVE here,
    // with the signatures missing) but the commit marker never lands
    val sigs = TextPipeline.simhash(b2)
    val keys = sigs.select(col("doc_id"),
      explode(TextPipeline.simhashBandKeys(col("simhash"), 4)).as("bucket"))
    IncrementalDedup.stage(keys, dir, "keys", "crashed00")
    // the torn batch must be invisible: a fresh full ingest of b2 must
    // equal the uncrashed two-batch reference exactly (keys-without-sigs
    // in the store would instead confirm-join b1xb2 pairs away, or pair
    // b2 docs against themselves twice)
    val second = IncrementalDedup.ingestSimhash(dir, b2)
    val refDir = java.nio.file.Files.createTempDirectory("inc_crash_ref").toString
    val ref = IncrementalDedup.ingestSimhash(refDir, b1)
      .union(IncrementalDedup.ingestSimhash(refDir, b2))
    val got = first.union(second)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    assert(ref.count() > 0) // the pin must not be vacuous
  }

  test("IncrementalDedup.ingestSemantic: an empty first increment does not freeze an empty quantizer") {
    import graft.pipeline.IncrementalDedup
    val emb = (0L until 40L).map { i =>
      val seed = i % 4
      (i, (0 until 8).map(d =>
        (((seed * 31 + d * 7) % 13 - 6).toFloat / 6f) + (i.toFloat / 10000f)))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("inc_sem_empty").toString
    // empty first increment: no pairs, and crucially NO frozen quantizer
    val empty = IncrementalDedup.ingestSemantic(dir,
      emb.filter(col("vec_id") < 0), nlist = 3, minCosine = 0.9)
    assert(empty.count() == 0)
    // the next (real) increment derives the quantizer and pairs normally
    val real = IncrementalDedup.ingestSemantic(dir, emb, nlist = 3,
      minCosine = 0.9)
    assert(real.count() > 0,
      "quantizer was frozen empty by the empty first increment")
  }

  test("IncrementalDedup.ingestEmbeddings: batched ingest equals annLshBanded") {
    import graft.pipeline.{IncrementalDedup, Similarity}
    val emb = (0L until 90L).map { i =>
      val seed = i % 9 // nine clusters of ten near-identical vectors
      (i, (0 until 12).map(d =>
        (((seed * 31 + d * 7) % 13 - 6).toFloat / 6f) +
          (i.toFloat / 10000f)))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("inc_emb").toString
    val all = Seq(0L -> 30L, 30L -> 70L, 70L -> 90L).map { case (lo, hi) =>
      IncrementalDedup.ingestEmbeddings(dir,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
        planes = 8, bands = 2, minCosine = 0.9)
    }.reduce(_ union _)
    assert(all.count() == all.distinct().count())
    val batch = Similarity.annLshBanded(emb, planes = 8, bands = 2,
      minCosine = 0.9)
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
    assert(batch.count() > 0) // parity must not be vacuous
  }

  test("IncrementalDedup.ingestSemantic: frozen-quantizer ingest equals full pairwise") {
    import graft.pipeline.IncrementalDedup
    // same nine near-identical families as the embeddings ingest test
    val vecs = (0L until 90L).map { i =>
      val seed = i % 9
      (i, (0 until 12).map(d =>
        (((seed * 31 + d * 7) % 13 - 6).toFloat / 6f) +
          (i.toFloat / 10000f)))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("inc_sem").toString
    val nlist = 5
    val minCos = 0.9
    val all = Seq(0L -> 30L, 30L -> 70L, 70L -> 90L).map { case (lo, hi) =>
      IncrementalDedup.ingestSemantic(dir,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), nlist, minCos)
    }.reduce(_ union _)
    assert(all.count() == all.distinct().count()) // each pair exactly once
    // brute-force twin: quantizer = FIRST batch's scrambled sample
    // (frozen in the store), argmax assignment, full pairwise confirm
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    def rd(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def scramble(id: Long) = (id % 1048576L * 2654435761L + 40503L) % 1048576L
    val cents = vecs.filter(_._1 < 30L)
      .sortBy { case (id, _) => (scramble(id), id) }.take(nlist)
    val assignM = vecs.map { case (id, v) =>
      id -> cents.maxBy { case (cid, cv) => (rd(cosine(v, cv), 6), -cid) }._1
    }.toMap
    // confirm threshold at round-6 (Similarity.semDedup's exact rounding);
    // the emitted cosine column stays at the scheme-wide round-4
    val expect = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && assignM(ia) == assignM(ib) && rd(cosine(va, vb), 6) >= minCos
    } yield (ia, ib, rd(cosine(va, vb), 4))).toSet
    assert(expect.nonEmpty) // parity must not be vacuous
    val got = rowsOf(all).map(r => (r("vec_a").asInstanceOf[Long],
      r("vec_b").asInstanceOf[Long], r("cosine").asInstanceOf[Double])).toSet
    assert(got == expect)
  }

  test("IncrementalDedup: degenerate batch — within-batch hot bucket capped or tiled") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    // a boilerplate-heavy increment: every doc shares the same shingles,
    // so the whole batch lands in one LSH bucket (d² within-batch pairs)
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hot = (0L until 40L).map(i => (i, boiler)).toDF("doc_id", "text")
    // uncapped reference (fresh store)
    val refDir = java.nio.file.Files.createTempDirectory("inc_deg_ref").toString
    val uncapped = IncrementalDedup.ingest(refDir, hot)
    assert(uncapped.count() == 40L * 39L / 2) // the d² batch really is degenerate
    // maxBucket: the over-cap batch bucket is dropped from the within branch
    val capDir = java.nio.file.Files.createTempDirectory("inc_deg_cap").toString
    assert(IncrementalDedup.ingest(capDir, hot, maxBucket = 8L).count() == 0)
    // a later small increment: its 3-row bucket is under cap so its own
    // 3 within-pairs emit, but the 40-row store bucket stays capped out
    val more = (40L until 43L).map(i => (i, boiler)).toDF("doc_id", "text")
    val second = IncrementalDedup.ingest(capDir, more, maxBucket = 8L)
    assert(second.filter(col("doc_a") < 40).count() == 0) // no store-cross pairs
    assert(second.count() == 3L * 2L / 2)                 // within-batch under cap
    // tileTarget: recall-lossless — equals the uncapped result exactly
    val tileDir = java.nio.file.Files.createTempDirectory("inc_deg_tile").toString
    val tiled = IncrementalDedup.ingest(tileDir, hot, tileTarget = 8L)
    assert(tiled.exceptAll(uncapped).isEmpty && uncapped.exceptAll(tiled).isEmpty)
    // and a follow-up tiled ingest still matches the batch operator overall
    val tiled2 = IncrementalDedup.ingest(tileDir, more, tileTarget = 8L)
    val batch = TextPipeline.minhashCandidates(hot.union(more))
    val all = tiled.union(tiled2)
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
  }

  test("IvfPqIndex: build/search equals monolithic annIvfPq; save/load round-trips") {
    import graft.pipeline.{IvfPqIndex, Similarity}
    val emb = (0L until 120L).map { i =>
      (i, (0 until 16).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val direct = Similarity.annIvfPq(emb, queries,
      nlist = 8, nprobe = 3, m = 4, ksub = 8, k = 5)
    val idx = IvfPqIndex.build(emb, nlist = 8, m = 4, ksub = 8)
    val viaIndex = idx.search(queries, nprobe = 3, k = 5)
    assert(viaIndex.exceptAll(direct).isEmpty && direct.exceptAll(viaIndex).isEmpty)

    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    idx.save(dir)
    val loaded = IvfPqIndex.load(spark, dir)
    assert((loaded.nlist, loaded.m, loaded.ksub) == (8, 4, 8))
    val viaLoaded = loaded.search(queries, nprobe = 3, k = 5)
    assert(viaLoaded.exceptAll(direct).isEmpty && direct.exceptAll(viaLoaded).isEmpty)
    // search-side joins stay broadcast: no sort-merge join over the codes
    val plan = viaLoaded.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"))
  }

  test("searchRefined: exact order over the ADC candidate set; exhaustive candidates == brute force") {
    import graft.pipeline.{IvfPqIndex, Similarity}
    val emb = (0L until 120L).map { i =>
      (i, (0 until 16).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = IvfPqIndex.build(emb, nlist = 8, m = 4, ksub = 8)
    // refined top-k == exact-cosine re-rank of the ADC candidate list
    val cand = idx.search(queries, nprobe = 3, k = 10)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = idx.searchRefined(queries, emb,
      nprobe = 3, kCandidates = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(refined.forall { case (q, n, _, _) => cand((q, n)) },
      "refined results must come from the candidate set")
    val exact = Similarity.knnBruteForce(emb, queries, k = 119).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(refined.forall { case (q, n, c, _) => exact((q, n)) == c },
      "refined scores are the EXACT cosines, not ADC approximations")
    // with every list probed and candidates covering the corpus, the
    // refine stage IS brute-force knn
    val fullRefine = idx.searchRefined(queries, emb,
      nprobe = 8, kCandidates = 119, k = 5)
    val brute = Similarity.knnBruteForce(emb, queries, k = 5)
    assert(fullRefine.exceptAll(brute).isEmpty &&
      brute.exceptAll(fullRefine).isEmpty)
  }

  test("IvfPqIndex: append encodes against frozen tables — equals monolithic; appendTo grows a saved index") {
    import graft.pipeline.{IvfPqIndex, Similarity}
    val emb = (0L until 120L).map { i =>
      (i, (0 until 16).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val direct = Similarity.annIvfPq(emb, queries,
      nlist = 8, nprobe = 3, m = 4, ksub = 8, k = 5)
    val idx = IvfPqIndex.build(emb, nlist = 8, m = 4, ksub = 8)
    // drop a half, re-add it via append: codes re-derive bit-identically
    // because the quantizer/codebook are frozen, so search == monolithic
    val grown = idx.copy(codes = idx.codes.filter(col("vec_id") % 2 === 0))
      .append(emb.filter(col("vec_id") % 2 === 1))
    val viaAppend = grown.search(queries, nprobe = 3, k = 5)
    assert(viaAppend.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaAppend).isEmpty)

    // on-disk twin: save the half index, appendTo the rest, reload
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    idx.copy(codes = idx.codes.filter(col("vec_id") % 2 === 0)).save(dir)
    idx.appendTo(dir, emb.filter(col("vec_id") % 2 === 1))
    val reloaded = IvfPqIndex.load(spark, dir)
    assert(reloaded.codes.count() == 120)
    val viaDisk = reloaded.search(queries, nprobe = 3, k = 5)
    assert(viaDisk.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaDisk).isEmpty)
  }

  test("IvfPqIndex.appendBatchTo: kill-and-resume at every crash window equals the never-crashed twin") {
    import graft.pipeline.{IvfPqIndex, Similarity}
    import org.apache.hadoop.fs.Path
    val emb = (0L until 120L).map { i =>
      (i, (0 until 16).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val direct = Similarity.annIvfPq(emb, queries,
      nlist = 8, nprobe = 3, m = 4, ksub = 8, k = 5)
    val idx = IvfPqIndex.build(emb, nlist = 8, m = 4, ksub = 8)
    val half = idx.copy(codes = idx.codes.filter(col("vec_id") % 2 === 0))
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val fs = new Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // never-crashed twin
    val cleanDir = java.nio.file.Files.createTempDirectory("ivfpq_clean").toString
    half.save(cleanDir)
    half.appendBatchTo(cleanDir, "b1", batch)
    val clean = IvfPqIndex.load(spark, cleanDir).search(queries, nprobe = 3, k = 5)
    assert(clean.exceptAll(direct).isEmpty && direct.exceptAll(clean).isEmpty)

    // crash window 1: killed BETWEEN code-file write and the commit
    // rename — reproduce the exact on-disk state by un-renaming a real
    // committed batch back to its staging path
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_crash").toString
    half.save(dir)
    half.appendBatchTo(dir, "b1", batch)
    val committed = new Path(s"$dir/codes_batches/batch_b1")
    val staging = new Path(s"$dir/codes_batches/.staging_batch_b1")
    assert(fs.rename(committed, staging), "test setup: un-rename failed")
    // the staged batch is INVISIBLE: reload searches like the half index
    val halfOnly = IvfPqIndex.load(spark, dir).codes.count()
    assert(halfOnly == 60, s"staged batch leaked into a reload: $halfOnly")
    // resume: same batch id → leftover deleted, batch redone, committed
    half.appendBatchTo(dir, "b1", batch)
    assert(!fs.exists(staging) && fs.exists(committed))
    val resumed = IvfPqIndex.load(spark, dir)
    assert(resumed.codes.count() == 120)
    val viaResumed = resumed.search(queries, nprobe = 3, k = 5)
    assert(viaResumed.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaResumed).isEmpty)

    // crash window 2: killed AFTER the rename (or a duplicate retry) —
    // the same batch id must no-op, never double-encode
    half.appendBatchTo(dir, "b1", batch)
    assert(IvfPqIndex.load(spark, dir).codes.count() == 120,
      "a retried committed batch was double-encoded")
  }

  test("connectedComponentsStar: long path converges in O(log) rounds where label prop cannot") {
    import graft.pipeline.Curation
    // a 100-node path has diameter 99: label propagation inside its
    // default maxIter budget cannot reach the fixpoint, large-star/
    // small-star must (log² 100 ≈ 44 ≫ actual, a handful of rounds)
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = rowsOf(
        Curation.connectedComponentsStar(path, requireConvergence = true))
      .map(r => r("id") -> r("component")).toMap
    assert(comp.size == 100 && comp.values.forall(_ == 0L))
  }

  test("connectedComponentsStar: equals a driver-side union-find on an arbitrary graph") {
    import graft.pipeline.Curation
    // deterministic pseudo-random multi-component graph with dup edges,
    // reversed orientation and self-loops
    val edges = (0 until 300).map { i =>
      val a = (i * 131) % 97; val b = (i * 197 + 13) % 97
      (a.toLong, b.toLong)
    }
    val star = rowsOf(Curation.connectedComponentsStar(edges.toDF("doc_a", "doc_b"),
        requireConvergence = true))
      .map(r => r("id").asInstanceOf[Long] -> r("component").asInstanceOf[Long]).toMap
    assert(star == RefComponents(edges))
  }

  test("connectedComponentsStar: empty input, maxIter guard") {
    import graft.pipeline.Curation
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Curation.connectedComponentsStar(empty).count() == 0)
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Curation.connectedComponentsStar(path, maxIter = 1,
        requireConvergence = true).collect()
    }
  }

  test("clusterDedup: one survivor per near-dup chain (pairwise would keep the middle)") {
    import graft.pipeline.Curation
    // a~b and b~c share 3-gram bands, a vs c drift further apart — the
    // chain must still collapse to ONE survivor
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = a.replace("theta", "iota")
    val c = b.replace("alpha", "kappa")
    val corpus = docs(1L -> a, 2L -> b, 3L -> c, 9L -> "totally different words only")
    val comp = rowsOf(Curation.clusterComponents(corpus))
      .map(r => r("doc_id") -> r("component")).toMap
    assert(comp(9L) == 9L) // unpaired doc keeps its own id
    if (comp(2L) == 1L && comp(3L) == 1L) { // chain recalled by LSH
      val kept = rowsOf(Curation.clusterDedup(corpus)).map(_("doc_id")).toSet
      assert(kept == Set(1L, 9L))
    }
  }

  test("assignSplit: deterministic, partitioning, stable under corpus growth") {
    import graft.pipeline.Curation
    val d = (0L until 400L).map(i => (i, s"text $i", "s"))
      .toDF("doc_id", "text", "source")
    val splits = rowsOf(Curation.assignSplit(d, 100000L, 100000L))
      .map(r => r("doc_id").asInstanceOf[Long] -> r("split")).toMap
    assert(splits.values.toSet == Set("train", "val", "test"))
    assert(splits.values.count(_ == "train") > 250) // ~80%
    // a doc's split never changes when the corpus grows
    val grown = rowsOf(Curation.assignSplit(
      (0L until 800L).map(i => (i, s"text $i", "s"))
        .toDF("doc_id", "text", "source"), 100000L, 100000L))
      .map(r => r("doc_id").asInstanceOf[Long] -> r("split")).toMap
    assert(splits.forall { case (id, s) => grown(id) == s })
  }

  test("corpusQuantiles: interpolated percentiles per source") {
    import graft.pipeline.Curation
    val d = Seq((1L, "a", "s"), (2L, "a b", "s"), (3L, "a b c", "s"),
      (4L, "a b c d", "s")).toDF("doc_id", "text", "source")
    val r = rowsOf(Curation.corpusQuantiles(d)).head
    assert(r("p50_tokens") == 2.5) // (n-1)p = 1.5 -> 2 + .5
    assert(r("p90_tokens") == 3.7) // r = 2.7 -> 3 + .7
    assert(r("p99_tokens") == 3.97)
  }

  test("curate: composed pipeline drops repetitive, duplicate and contaminated docs") {
    import graft.pipeline.Curation
    val clean = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, clean, "srcA"),
      (2L, clean + " lambda", "srcA"),            // near-dup of 1 -> deduped
      (3L, "spam spam spam spam spam spam", "srcA"), // repetitive -> filtered
      (4L, "one two three four five six seven", "srcA"),
      (5L, "totally different benchmark overlap words here now", "srcA"))
      .toDF("doc_id", "text", "source")
    val bench = docs(99L -> "benchmark overlap words")
    val out = rowsOf(Curation.curate(corpus, bench, maxDupWordFrac = 0.4,
      chunkSize = 4, stride = 4))
    val ids = out.map(_("doc_id")).toSet
    // 1 survives its near-dup pair, 3 is repetitive, 5 shares the bench
    // 3-gram "benchmark overlap words" — only 1 and 4 reach chunking
    assert(ids == Set(1L, 4L))
    assert(out.count(_("doc_id") == 1L) == 3) // 10 tokens / size 4 stride 4
  }

  /** A DocSynth corpus where every curate stage removes documents: at
    * 0.3 the repetition filter drops about a quarter, 14 % of documents
    * are (near-)copies for connected components, and the benchmark
    * shares 3-grams with about a tenth of the corpus. */
  private def dupHeavyCorpus() = (
    graft.core.DocSynth.documents(spark, 800L, 11L, dupPpm = 60000L, nearDupPpm = 80000L),
    graft.core.DocSynth.documents(spark, 20L, 3L))

  test("contamination and decontaminate equal the explode-join-aggregate form") {
    import graft.pipeline.Curation
    val (corpus, bench) = dupHeavyCorpus()
    def overlaps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = overlaps(RefCurate.contamination(corpus, bench, 3))
    assert(want.size > 50)
    assert(overlaps(Curation.contamination(corpus, bench, 3)) == want)
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    for (maxOverlap <- Seq(0L, 2L)) {
      val kept = Curation.decontaminate(corpus, bench, 3, maxOverlap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == all -- want.filter(_._2 > maxOverlap).keySet)
    }
    // null text has no n-grams: never contaminated, always kept
    val nullText = Seq((1L, null: String)).toDF("doc_id", "text")
    assert(Curation.contamination(nullText, bench, 3).count() == 0)
    assert(Curation.decontaminate(nullText, bench, 3).count() == 1)
  }

  test("curate equals the join-form composition on a duplicate-heavy corpus, with and without keepBest") {
    import graft.pipeline.Curation
    val (corpus, bench) = dupHeavyCorpus()
    val maxFrac = 0.3
    val rates = Map("src0" -> 0L, "src1" -> 500000L)
    // every stage has work to do on this corpus
    val kept = corpus.join(Curation.repetitionStats(corpus)
      .filter(col("dup_word_frac") <= maxFrac).select("doc_id"), Seq("doc_id"))
    assert(kept.count() < 700)
    assert(Curation.clusterDedup(kept).count() < kept.count() - 20)
    assert(Curation.contamination(kept, bench, 3).count() > 30)
    def chunks(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq.sorted
    for (keepBest <- Seq(None, Some(length(col("text"))))) {
      val want = chunks(RefCurate.curate(corpus, bench, maxFrac, rates, keepBest))
      assert(want.nonEmpty)
      assert(chunks(Curation.curate(corpus, bench, maxDupWordFrac = maxFrac,
        ratesPpm = rates, keepBest = keepBest)) == want, s"keepBest = $keepBest")
    }
  }

  test("sampleBySource: deterministic, rate 0 drops source, rate 1 keeps all") {
    import graft.pipeline.Curation
    val d = (0L until 60L).map(i => (i, s"text $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val rates = Map("src0" -> 0L, "src1" -> 500000L)
    val once = rowsOf(Curation.sampleBySource(d, rates))
      .map(_("doc_id").asInstanceOf[Long]).toSet
    val twice = rowsOf(Curation.sampleBySource(d, rates))
      .map(_("doc_id").asInstanceOf[Long]).toSet
    assert(once == twice) // stable across runs — no partition-seeded sample()
    assert(!once.exists(_ % 3 == 0)) // src0 fully dropped
    assert((0L until 60L).filter(_ % 3 == 2).forall(once.contains)) // default ppm keeps src2
    val src1Kept = once.count(_ % 3 == 1)
    assert(src1Kept > 0 && src1Kept < 20) // genuinely downsampled
  }

  test("ngramCounts: bigram table with count floor, tail pruned") {
    import graft.pipeline.TextPipeline
    val docs = Seq(
      (1L, "a b a b a b"),   // "a b" x3, "b a" x2
      (2L, "a b c"),         // "a b" x1, "b c" x1
      (3L, "x")              // no bigrams
    ).toDF("doc_id", "text")
    val out = TextPipeline.ngramCounts(docs, n = 2, minCount = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a b" -> 4L, "b a" -> 2L)) // "b c" pruned at 1
  }

  test("dupSpans: cross-doc and within-doc repeated trigrams located by position") {
    import graft.pipeline.TextPipeline
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // grams at pos 0,1
      (2L, "zz alpha beta gamma yy"),        // shares "alpha beta gamma" (pos 1)
      (3L, "one two three one two three"),   // within-doc repeat at pos 0 and 3
      (4L, "totally unique words here")
    ).toDF("doc_id", "text")
    val out = TextPipeline.dupSpans(docs, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, 0, 2L), (2L, 1, 2L),              // the shared trigram
      (3L, 0, 2L), (3L, 3, 2L)))             // the self-repeat
  }

  test("ingestSpans: batched ingest reproduces batch dupSpans positions exactly once") {
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "zz alpha beta gamma yy"),       // dup vs 1 (cross-batch)
      (3L, "one two three one two three"),  // self-repeat within batch 1
      (4L, "totally unique words here"),    // unique until batch 3
      (5L, "alpha beta gamma prime"),       // third copy, later batch
      (6L, "totally unique words extended"),// duplicates doc 4's gram
      (7L, "one two three again right now") // dup vs 3, last batch
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("span_store").toString
    val batches = Seq(
      docs.filter(col("doc_id") <= 3),
      docs.filter(col("doc_id") === 4 || col("doc_id") === 5),
      docs.filter(col("doc_id") >= 6))
    val all = batches.map(IncrementalDedup.ingestSpans(dir, _, k = 3))
      .reduce(_ union _)
    // exactly-once: no position emitted twice
    assert(all.count() == all.distinct().count())
    val batch = TextPipeline.dupSpans(docs, k = 3).select("doc_id", "pos")
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty)
    assert(batch.count() > 0) // parity must not be vacuous
    // the cross-batch single: doc 4's gram was unique at its own ingest
    // (batch 2) and must surface exactly once, at the batch-3 ingest
    // that duplicated it (the s == 1 store-side emission path)
    assert(all.filter(col("doc_id") === 4).count() == 1)
    assert(all.filter(col("doc_id") === 1).count() == 1)
  }

  test("removeDupSpans: canonical occurrence survives, later ones are cut") {
    import graft.pipeline.TextPipeline
    val docs = Seq(
      (1L, "alpha beta gamma delta"),      // canonical "alpha beta gamma"
      (2L, "zz alpha beta gamma yy"),      // victim: tokens 1..3 cut
      (3L, "one two three one two three"), // self-repeat: pos 3..5 cut
      (4L, "all unique content here")
    ).toDF("doc_id", "text")
    val out = TextPipeline.removeDupSpans(docs, k = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L) == ("alpha beta gamma delta", 0))
    assert(out(2L) == ("zz yy", 3))
    assert(out(3L) == ("one two three", 3))
    assert(out(4L) == ("all unique content here", 0))
  }

  test("unigramNll: common tokens score low, OOV scores the smoothed ceiling") {
    import graft.pipeline.Curation
    val ref = Seq((0L, "the the the cat"), (2L, "the dog"))
      .toDF("doc_id", "text")
    val docs = Seq((1L, "the"), (3L, "unseen"), (5L, "the unseen"))
      .toDF("doc_id", "text")
    val out = Curation.unigramNll(docs, ref)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // LM: the=4, cat=1, dog=1 → total=6, vocab=3; p(the)=(4+1)/10,
    // p(unseen)=(0+1)/10
    val pThe = -math.log(5.0 / 10.0)
    val pOov = -math.log(1.0 / 10.0)
    def u(x: Double) = math.round(x * 1e6)
    assert(out(1L)._1 == u(pThe) / 1e6 && out(1L)._2 == 1L)
    assert(out(3L)._1 == u(pOov) / 1e6 && out(3L)._2 == 1L)
    assert(out(5L)._1 ==
      BigDecimal((u(pThe) + u(pOov)) / 2.0 / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L)._1 < out(3L)._1, "junk must score above fluent text")
  }

  test("ratesForTokenBudget: water-filling saturates small sources, redistributes") {
    import graft.pipeline.Curation
    val tokens = Map("big" -> 1000000L, "mid" -> 100000L, "tiny" -> 1000L)
    // equal weights, budget 300k: naive shares are 100k each — tiny
    // saturates (1k) and its leftover flows to the others
    val r = Curation.ratesForTokenBudget(tokens, 300000L)
    assert(r("tiny") == 1000000L)
    // remaining 299k split between big and mid: mid's share 149.5k > 100k
    // -> mid saturates too; big gets the rest: 199k / 1M = 0.199
    assert(r("mid") == 1000000L)
    assert(r("big") == 199000L)
    // expected kept tokens == budget (up to ppm rounding)
    val kept = tokens.map { case (s, t) => t * r(s) / 1000000L }.sum
    assert(math.abs(kept - 300000L) <= 1L)
    // zero budget keeps nothing; over-budget keeps everything
    assert(Curation.ratesForTokenBudget(tokens, 0L).values.forall(_ == 0L))
    assert(Curation.ratesForTokenBudget(tokens, 10000000L)
      .values.forall(_ == 1000000L))
    // weighted: all budget to 'big' when others weigh zero
    val wr = Curation.ratesForTokenBudget(tokens, 500000L,
      Map("big" -> 1.0, "mid" -> 0.0, "tiny" -> 0.0))
    assert(wr("big") == 500000L && wr("mid") == 0L && wr("tiny") == 0L)
  }

  test("unigramNll: empty reference scores every token at the uniform ceiling") {
    import graft.pipeline.Curation
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "aa bb"), (2L, "cc")).toDF("doc_id", "text")
    // total=0, vocab=0 -> denom=1 -> every token NLL = -ln(1/1) = 0
    val out = Curation.unigramNll(docs, ref)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(out == Set((1L, 0.0, 2L), (2L, 0.0, 1L)))
  }

  test("qualityGate: keeps the lowest-NLL fraction per source, drops token-less docs") {
    import graft.pipeline.Curation
    // source A: 5 docs — 4 fluent (reference tokens), 1 junk; gate at
    // 0.8 must cut exactly the junk one. B: junk-only stays (best of
    // its own source). Empty doc has no score and disappears.
    val ref = Seq((100L, "aa bb cc dd aa bb cc dd")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "aa bb cc dd", "A"), (2L, "bb cc dd aa", "A"),
      (3L, "cc dd aa bb", "A"), (4L, "dd aa bb cc", "A"),
      (5L, "zz qq ww ee", "A"),  // OOV junk
      (6L, "xx yy zz ww", "B"),
      (7L, "", "B")
    ).toDF("doc_id", "text", "source")
    val kept = Curation.qualityGate(docs, ref, keepFrac = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 6L))
  }

  test("qualityGateApprox: sf0.01 keep-set agrees with the exact gate") {
    import graft.pipeline.Curation
    // the documented 100 TB swap (percentile_approx threshold instead of
    // a per-source percent_rank total order) must make the SAME cut up
    // to sketch error at the boundary — pinned here, since the approx
    // sketch has no engine-portable oracle
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Curation.qualityGate(docs, ref, keepFrac = 0.8))
    val approx = ids(Curation.qualityGateApprox(docs, ref, keepFrac = 0.8))
    val jaccard =
      (exact & approx).size.toDouble / (exact | approx).size.toDouble
    assert(jaccard >= 0.98, s"approx/exact keep-set Jaccard = $jaccard")
    // the approx keep-rate must sit at the requested fraction, not
    // collapse or pass-through
    val total = docs.count().toDouble
    val rate = approx.size / total
    assert(rate >= 0.7 && rate <= 0.9, s"approx keep-rate = $rate")
  }

  test("perplexityBuckets: per-source head/middle/tail split; approx twin agrees") {
    import graft.pipeline.Curation
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val got = rowsOf(Curation.perplexityBuckets(docs, ref,
      headFrac = 0.25, middleFrac = 0.5))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        (r("source").asInstanceOf[String], r("bucket").asInstanceOf[String]))
      .toMap
    assert(got.size == docs.count()) // nothing dropped, one label each
    // per source: proportions land on the requested cuts (percent_rank
    // boundaries give ±1 doc slack per source)
    got.values.groupBy(_._1).foreach { case (src, labels) =>
      val n = labels.size.toDouble
      val byB = labels.groupBy(_._2).view.mapValues(_.size).toMap
      assert(math.abs(byB.getOrElse("head", 0) / n - 0.25) <= 2 / n,
        s"$src head=${byB.get("head")} of $n")
      assert(math.abs(byB.getOrElse("middle", 0) / n - 0.5) <= 2 / n,
        s"$src middle=${byB.get("middle")} of $n")
    }
    // brute-force twin: rank by (avg_nll, doc_id) per source locally
    val nll = rowsOf(Curation.unigramNll(docs, ref))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        r("avg_nll").asInstanceOf[Double]).toMap
    val expect = got.keys.toSeq.groupBy(id => got(id)._1).flatMap {
      case (_, ids) =>
        val ranked = ids.sortBy(id => (nll(id), id))
        val n = ranked.size - 1.0
        ranked.zipWithIndex.map { case (id, i) =>
          val pr = if (n == 0) 0.0 else i / n
          id -> (if (pr <= 0.25) "head"
                 else if (pr <= 0.75) "middle" else "tail")
        }
    }
    assert(got.map { case (id, (_, b)) => id -> b } == expect)
    // the 100 TB twin (percentile_approx thresholds, no per-source total
    // order) must agree up to sketch error at the two boundaries
    val approx = rowsOf(Curation.perplexityBucketsApprox(docs, ref,
      headFrac = 0.25, middleFrac = 0.5))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        r("bucket").asInstanceOf[String]).toMap
    val agree = got.count { case (id, (_, b)) => approx(id) == b }
    assert(agree >= got.size * 0.98,
      s"approx/exact bucket agreement = $agree/${got.size}")
  }

  test("clusterDedupBest: keeps the best-scoring member per cluster") {
    import graft.pipeline.Curation
    // two near-dup families with distinct lengths + one singleton; the
    // survivor must be the LONGEST member (not the min id), ties → min id
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = docs(
      1L -> a,
      2L -> (a + " iota kappa"),          // longest of the family
      3L -> (a + " iota"),
      9L -> "totally different words only")
    val comp = rowsOf(Curation.clusterComponents(corpus))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        r("component").asInstanceOf[Long]).toMap
    val lens = Map(1L -> a.length, 2L -> (a + " iota kappa").length,
      3L -> (a + " iota").length, 9L -> 28)
    // brute-force keep rule over whatever components LSH recalled
    val expect = comp.groupBy(_._2).values.map(m =>
      m.keys.minBy(id => (-lens(id), id))).toSet
    val kept = rowsOf(Curation.clusterDedupBest(corpus, length(col("text"))))
      .map(_("doc_id").asInstanceOf[Long]).toSet
    assert(kept == expect)
    assert(kept.contains(9L)) // singleton survives
    if (comp(2L) == comp(1L) && comp(3L) == comp(1L))
      assert(kept == Set(2L, 9L)) // longest member, not min id
    // score ties fall back to min doc_id
    val tied = docs(5L -> "same words here", 6L -> "same words here",
      7L -> "unrelated other tokens entirely")
    val keptTied = rowsOf(Curation.clusterDedupBest(tied,
      length(col("text")))).map(_("doc_id").asInstanceOf[Long]).toSet
    assert(keptTied.contains(5L) && !keptTied.contains(6L))
  }

  test("shardByTokens: document-atomic, monotone, token-balanced shards") {
    import graft.pipeline.Curation
    val nt = (0 until 200).map(i => (i * 13 % 37))
    val docs = nt.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val S = 4
    val out = rowsOf(Curation.shardByTokens(docs, S))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        ((r("tok_start").asInstanceOf[Long], r("shard").asInstanceOf[Int])))
      .toMap
    // brute-force twin of the floor-division assignment
    val total = nt.map(_.toLong).sum
    val starts = nt.map(_.toLong).scanLeft(0L)(_ + _)
    (0 until 200).foreach { i =>
      val (st, sh) = out(i.toLong)
      assert(st == starts(i))
      assert(sh == math.min(st * S / total, S - 1L).toInt)
    }
    // shard ids are monotone in doc order, all S shards non-empty, and
    // per-shard token totals are balanced within one max-document slack
    val byDoc = (0 until 200).map(i => out(i.toLong)._2)
    assert(byDoc.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true })
    val shardToks = (0 until 200).groupBy(i => out(i.toLong)._2)
      .view.mapValues(_.map(nt(_).toLong).sum).toMap
    assert(shardToks.keySet == (0 until S).toSet)
    val ideal = total.toDouble / S
    shardToks.values.foreach(t =>
      assert(math.abs(t - ideal) <= nt.max + 1, s"shard toks $t vs $ideal"))
    // all-empty corpus: everything lands in shard 0, no divide-by-zero
    val empty = Seq((1L, ""), (2L, "")).toDF("doc_id", "text")
    assert(rowsOf(Curation.shardByTokens(empty, 3))
      .forall(_("shard").asInstanceOf[Int] == 0))
  }

  test("semDedup: cluster-scoped drops match brute force; tiles lossless, caps keep") {
    // near-dup twin fixture: 12 twin pairs nudged by 1e-3 in one dim
    val base = (0 until 12).map(c => Array.tabulate(8)(d => math.sin(c * 5 + d).toFloat))
    val vecs = base.zipWithIndex.flatMap { case (v, c) =>
      Seq((c * 2L, v), (c * 2L + 1L, v.updated(0, v(0) + 0.001f)))
    }
    val emb = vecs.toDF("vec_id", "embedding").repartition(4)
    val nlist = 5
    val minCos = 0.9
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // brute-force twin: scrambled-sample quantizer, argmax assignment
    // (highest rounded cosine, then lowest cid), within-cluster drops
    def scramble(id: Long) = (id % 1048576L * 2654435761L + 40503L) % 1048576L
    val cents = vecs.sortBy { case (id, _) => (scramble(id), id) }.take(nlist)
    val assignM = vecs.map { case (id, v) =>
      id -> cents.maxBy { case (cid, cv) => (r6(cosine(v, cv)), -cid) }._1
    }.toMap
    val losers = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && assignM(ia) == assignM(ib) && r6(cosine(va, vb)) >= minCos
    } yield ib).toSet
    assert(losers.nonEmpty) // the rule must fire, not pass vacuously
    val expect = vecs.map(_._1).filterNot(losers)
      .map(id => id -> assignM(id)).toMap
    def keptOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      rowsOf(df).map(r => r("vec_id").asInstanceOf[Long] ->
        r("cid").asInstanceOf[Long]).toMap
    assert(keptOf(graft.pipeline.Similarity.semDedup(emb, nlist, minCos)) == expect)
    // tiling is recall-lossless: identical keep set with tiny tiles
    assert(keptOf(graft.pipeline.Similarity.semDedup(emb, nlist, minCos,
      tileTarget = 2L)) == expect)
    // capping exempts hot clusters from comparison — members are KEPT
    assert(keptOf(graft.pipeline.Similarity.semDedup(emb, nlist, minCos,
      maxCluster = 1L)).keySet == vecs.map(_._1).toSet)
  }

  test("assignByCentroids: expression path == crossJoin fallback, tie to lowest cid") {
    import graft.pipeline.Similarity
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(6)(d => math.cos(i * 3 + d))))
    val e = vecs.toDF("vec_id", "vec")
    val cents = Similarity.collectedSampleVals(e, 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      rowsOf(df.select("vec_id", "cid", "csim"))
        .map(r => (r("vec_id"), r("cid"), r("csim"))).toSet
    // the map-only expression path and the crossJoin+max_by fallback
    // (forced via maxExprCentroids = 0) must agree exactly
    val fast = rows(Similarity.assignByCentroids(e, cents))
    val slow = rows(Similarity.assignByCentroids(e, cents, maxExprCentroids = 0))
    assert(fast == slow)
    // a centroid vector IS in the corpus: assigns to itself (csim 1.0),
    // and duplicate-similarity ties break to the LOWEST cid
    val (cid0, cv0) = cents.head
    assert(fast.contains((cid0, cid0, 1.0d)))
    val dup = Seq((100L, cv0), (101L, cv0)).toDF("vec_id", "vec")
    val dupAssign = rows(Similarity.assignByCentroids(
      dup, Seq((5L, cv0), (3L, cv0), (9L, cv0))))
    assert(dupAssign == Set((100L, 3L, 1.0d), (101L, 3L, 1.0d)))
    // map-only claim: the expression path plans no exchange
    val plan = Similarity.assignByCentroids(e, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // non-finite elements must not crash the loop expression (Catalyst's
    // Round passes NaN/Infinity through; roundHalfUp must too) — AND the
    // expression path must assign the SAME cids as the crossJoin
    // fallback (java.lang.Double.compare ordering: NaN greatest, ties
    // to lowest cid), not evaluation-order-dependent ones
    val weird = Seq(
      (50L, Seq(Double.NaN, 1.0, 0.0, 0.0, 0.0, 0.0)),
      (51L, Seq(Double.MaxValue, Double.MaxValue, 0.0, 0.0, 0.0, 0.0)),
      (52L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "vec")
    def cids(df: org.apache.spark.sql.DataFrame) =
      rowsOf(df.select("vec_id", "cid"))
        .map(r => (r("vec_id"), r("cid"))).toSet
    val weirdFast = cids(Similarity.assignByCentroids(weird, cents))
    val weirdSlow = cids(Similarity.assignByCentroids(weird, cents,
      maxExprCentroids = 0))
    assert(weirdFast == weirdSlow, s"fast=$weirdFast slow=$weirdSlow")
    assert(weirdFast.map(_._1.asInstanceOf[Long]) == Set(50L, 51L, 52L))
    // a null / null-element vector in the SAMPLE is sanitized (empty —
    // never wins), not an NPE at expression construction
    val withNull = Seq((60L, null), (61L, Seq(1.0, 0.0))).toDF("vec_id", "vec")
    val centsN = Similarity.collectedSampleVals(withNull, 2)
    assert(centsN.map(_._2).contains(Seq.empty[Double]))
    assert(Similarity.assignByCentroids(
      Seq((70L, Seq(1.0, 0.0))).toDF("vec_id", "vec"), centsN).count() == 1)
  }

  test("hybridDedup: cluster gates, Jaccard confirms; no-embedding docs pass") {
    import graft.pipeline.Similarity
    // Two well-separated clusters (axis-aligned), nlist = 2 so the
    // scrambled-id sample picks one centroid per cluster region.
    val ex = Seq(
      1L -> Array(1.0f, 0.0f, 0.01f),  // cluster A
      2L -> Array(1.0f, 0.01f, 0.0f),  // cluster A
      3L -> Array(0.99f, 0.0f, 0.02f), // cluster A (paraphrase text)
      4L -> Array(0.0f, 1.0f, 0.01f),  // cluster B
      5L -> Array(0.01f, 1.0f, 0.0f))  // cluster B
      .toDF("vec_id", "embedding")
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",  // lexical copy of 1, same cluster -> dropped
      3L -> "totally different phrasing same topic here", // same cluster, low jaccard -> kept
      4L -> "alpha beta gamma delta epsilon zeta",  // lexical copy of 1, OTHER cluster -> kept
      5L -> "one two three four five six",          // cluster B unique -> kept
      9L -> "alpha beta gamma delta epsilon zeta")  // NO embedding -> kept, cid null
    def kept(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      rowsOf(df).map(r => r("doc_id").asInstanceOf[Long] ->
        Option(r("cid")).map(_.asInstanceOf[Long])).toMap
    val out = kept(Similarity.hybridDedup(d, ex, nlist = 2, n = 2,
      minJaccard = 0.5))
    assert(out.keySet == Set(1L, 3L, 4L, 5L, 9L),
      s"hybrid keep set wrong: ${out.keySet}")
    assert(out(9L).isEmpty, "doc without embedding must carry null cid")
    assert(out(1L).isDefined && out(4L).isDefined &&
      out(1L) != out(4L), "lexical copies must sit in different clusters")
    // tiling is recall-lossless; capping exempts hot clusters (all kept)
    assert(kept(Similarity.hybridDedup(d, ex, nlist = 2, n = 2,
      minJaccard = 0.5, tileTarget = 2L)) == out)
    assert(kept(Similarity.hybridDedup(d, ex, nlist = 2, n = 2,
      minJaccard = 0.5, maxCluster = 1L)).keySet ==
      Set(1L, 2L, 3L, 4L, 5L, 9L))
  }

  test("semDedup keepOutlier: drops the more-central member of each pair") {
    // same twin fixture as the base semDedup spec
    val base = (0 until 12).map(c => Array.tabulate(8)(d => math.sin(c * 5 + d).toFloat))
    val vecs = base.zipWithIndex.flatMap { case (v, c) =>
      Seq((c * 2L, v), (c * 2L + 1L, v.updated(0, v(0) + 0.001f)))
    }
    val emb = vecs.toDF("vec_id", "embedding").repartition(4)
    val nlist = 5
    val minCos = 0.9
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def scramble(id: Long) = (id % 1048576L * 2654435761L + 40503L) % 1048576L
    val cents = vecs.sortBy { case (id, _) => (scramble(id), id) }.take(nlist)
    val assignM = vecs.map { case (id, v) =>
      id -> cents.maxBy { case (cid, cv) => (r6(cosine(v, cv)), -cid) }._1
    }.toMap
    // winner-centroid similarity per vector, the paper rule's score
    val csimM = vecs.map { case (id, v) =>
      id -> r6(cosine(v, cents.find(_._1 == assignM(id)).get._2)) }.toMap
    val ord = implicitly[Ordering[(Double, Long)]]
    val losers = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && assignM(ia) == assignM(ib) && r6(cosine(va, vb)) >= minCos
    } yield if (ord.gt((csimM(ia), ia), (csimM(ib), ib))) ia else ib).toSet
    assert(losers.nonEmpty) // rule must fire, not pass vacuously
    val expect = vecs.map(_._1).filterNot(losers)
      .map(id => id -> assignM(id)).toMap
    val got = rowsOf(graft.pipeline.Similarity.semDedup(emb, nlist, minCos,
        keepOutlier = true))
      .map(r => r("vec_id").asInstanceOf[Long] ->
        r("cid").asInstanceOf[Long]).toMap
    assert(got == expect)
  }

  test("curriculumOrder: contiguous positions in score order, deterministic") {
    import graft.pipeline.Curation
    val docs = (0L until 300L).map(i =>
      (i, "x" * ((i * 37 % 50) + 1).toInt, s"s${i % 3}"))
      .toDF("doc_id", "text", "source").repartition(8)
    def posOf() = rowsOf(Curation.curriculumOrder(docs, length(col("text"))))
      .map(r => r("doc_id").asInstanceOf[Long] -> r("pos").asInstanceOf[Long])
      .toMap
    val got = posOf()
    val expect = (0L until 300L).sortBy(i => ((i * 37 % 50) + 1, i))
      .zipWithIndex.map { case (id, p) => id -> p.toLong }.toMap
    assert(got == expect)
    assert(posOf() == got) // replayable
  }

  test("novelty: miss fraction vs reference n-grams; 0 when covered, 1 when disjoint") {
    import graft.pipeline.Curation
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon",    // = reference doc → novelty 0
      2L -> "one two three four five six",       // disjoint → novelty 1
      3L -> "alpha beta gamma zeta eta theta",   // partial overlap
      4L -> "ab cd")                             // < n tokens → no row
    val ref = docs(10L -> "alpha beta gamma delta epsilon")
    val got = rowsOf(Curation.novelty(corpus, ref, n = 3))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        (r("n_grams").asInstanceOf[Long], r("n_novel").asInstanceOf[Long],
         r("novelty").asInstanceOf[Double])).toMap
    assert(!got.contains(4L))
    assert(got(1L) == ((3L, 0L, 0.0)))
    assert(got(2L) == ((4L, 4L, 1.0)))
    // doc 3: grams = {abg, bgz, gze, zet}; only "alpha beta gamma" seen
    assert(got(3L) == ((4L, 3L, 0.75)))
  }

  test("interleaveBySources: proportional spread, contiguous, deterministic") {
    import graft.pipeline.Curation
    // 4 docs of 'rare' among 12 of 'common' — rare docs must spread
    val rows = (0L until 12L).map(i => (i, "common")) ++
      (100L until 104L).map(i => (i, "rare"))
    val d = rows.toDF("doc_id", "source").repartition(5)
    def posOf() = rowsOf(Curation.interleaveBySources(d))
      .map(r => r("doc_id").asInstanceOf[Long] -> r("pos").asInstanceOf[Long])
      .toMap
    val got = posOf()
    assert(got.values.toSeq.sorted == (0L until 16L)) // contiguous 0..N-1
    // brute-force twin: (k+1)/(n+1) fraction, (source, k) tie-break
    val bySrc = rows.groupBy(_._2)
    val expect = bySrc.flatMap { case (src, ds) =>
      ds.map(_._1).sorted.zipWithIndex.map { case (id, k) =>
        (id, ((k + 1).toDouble / (ds.size + 1), src, k))
      }
    }.toSeq.sortBy(_._2).map(_._1).zipWithIndex
      .map { case (id, p) => id -> p.toLong }.toMap
    assert(got == expect)
    // the rare source never bunches: gaps between its positions ≈ N/(n+1)
    val rarePos = (100L until 104L).map(got).sorted
    assert(rarePos.zip(rarePos.tail).forall { case (a, b) => b - a >= 2 })
    assert(posOf() == got) // replayable
  }

  test("removeDupLines: corpus-first occurrence survives, short lines exempt") {
    import graft.pipeline.TextPipeline
    val boiler = "subscribe to our newsletter today"
    val corpus = docs(
      1L -> s"unique opening line one\n$boiler\nclosing words here",
      2L -> s"$boiler\nanother unique line two",   // boiler dup → dropped
      3L -> s"ok\n$boiler",                        // short line exempt, boiler dropped
      4L -> boiler)                                // fully boilerplate → empty
    val got = rowsOf(TextPipeline.removeDupLines(corpus, minChars = 10))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        (r("text_clean").asInstanceOf[String], r("n_kept").asInstanceOf[Int],
         r("n_dropped").asInstanceOf[Int])).toMap
    // doc 1 holds the corpus-first occurrence (doc_id order) — untouched
    assert(got(1L) ==
      ((s"unique opening line one\n$boiler\nclosing words here", 3, 0)))
    assert(got(2L) == (("another unique line two", 1, 1)))
    assert(got(3L) == (("ok", 1, 1))) // "ok" < minChars → exempt, kept
    assert(got(4L) == (("", 0, 1)))   // doc row survives, text empty
    // within-doc repetition: later copy of the SAME doc's line also cut
    val twice = rowsOf(TextPipeline.removeDupLines(docs(
      7L -> "repeated interior line text\nmiddle\nrepeated interior line text"),
      minChars = 10)).head
    assert(twice("text_clean") == "repeated interior line text\nmiddle")
    assert(twice("n_dropped") == 1)
    // r20 scale shape: line text never leaves its document — lines
    // travel as xxhash64 keys and the rebuild re-splits in place, so no
    // collect of (idx, line) structs exists anywhere in the plan
    val plan = TextPipeline.removeDupLines(corpus, minChars = 10)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("xxhash64"), plan)
    assert(!plan.contains("collect_list"), plan)
  }

  test("dsirWeights: target-like docs outscore raw-like; exact replay") {
    import graft.pipeline.Curation
    // target = clean prose vocabulary; raw adds boilerplate junk
    val target = docs(
      100L -> "the quick brown fox jumps over the lazy dog",
      101L -> "a quick brown fox runs through the green field")
    val corpus = docs(
      1L -> "quick brown fox jumps over the lazy dog",  // target-like
      2L -> "click here buy now free offer click here",  // junk
      3L -> "")                                          // token-less → no row
    val raw = corpus
    def run() = rowsOf(Curation.dsirWeights(corpus, target, raw, buckets = 256))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        (r("n_feats").asInstanceOf[Long], r("log_w").asInstanceOf[Double]))
      .toMap
    val got = run()
    assert(!got.contains(3L))
    // n_feats = unigrams + bigrams = 2*len - 1
    assert(got(1L)._1 == 15L && got(2L)._1 == 15L)
    // the target-like doc carries the higher importance weight
    assert(got(1L)._2 > got(2L)._2)
    assert(run() == got) // integer micro-unit sums replay exactly
  }

  test("dsirSelect: keeps ceil(frac*N) highest-weight docs, drops token-less") {
    import graft.pipeline.Curation
    val target = docs(
      100L -> "the quick brown fox jumps over the lazy dog",
      101L -> "a quick brown fox runs through the green field")
    val corpus = docs(
      1L -> "quick brown fox jumps over the lazy dog", // target-like
      2L -> "click here buy now free offer click here", // junk
      3L -> "the quick brown fox over the lazy dog",    // target-like
      4L -> "win big casino bonus spin now win big",    // junk
      5L -> "")                                         // token-less
    val kept = rowsOf(Curation.dsirSelect(corpus, target, keepFrac = 0.5,
      buckets = 256)).map(_("doc_id").asInstanceOf[Long]).toSet
    // 4 weighted docs (doc 5 has no features) → ceil(0.5*4) = 2 kept,
    // and they must be the two target-like ones
    assert(kept == Set(1L, 3L))
    // keepFrac = 1 keeps every weighted doc (token-less still dropped)
    assert(rowsOf(Curation.dsirSelect(corpus, target, 1.0, 256))
      .map(_("doc_id").asInstanceOf[Long]).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("dsirSelect: long target match beats short all-miss (length-normalized rank)") {
    import graft.pipeline.Curation
    // The raw per-doc SUM of log-ratios penalizes length: every feature
    // absent from the target is a negative term, so a LONG document that
    // matches the target well plus extra text sums below a SHORT document
    // that matches nothing. Selection must rank on match density
    // (log_w / n_feats), keeping the long match.
    val target = docs(
      100L -> "the quick brown fox jumps over the lazy dog")
    val corpus = docs(
      // long: full target vocabulary twice + unrelated tail
      1L -> ("the quick brown fox jumps over the lazy dog " +
        "the quick brown fox jumps over the lazy dog " +
        "unrelated appendix text follows here today"),
      // short: nothing in common with the target
      2L -> "win casino bonus")
    val w = rowsOf(Curation.dsirWeights(corpus, target, corpus, buckets = 256))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        (r("log_w").asInstanceOf[Double], r("n_feats").asInstanceOf[Long]))
      .toMap
    // the trap is real on this fixture: raw sums would keep the short miss
    assert(w(1L)._1 < w(2L)._1)
    assert(w(1L)._1 / w(1L)._2 > w(2L)._1 / w(2L)._2)
    val kept = rowsOf(Curation.dsirSelect(corpus, target, keepFrac = 0.5,
      buckets = 256)).map(_("doc_id").asInstanceOf[Long]).toSet
    assert(kept == Set(1L))
  }

  test("ratesForTemperature: T=1 natural sampling, large T flattens") {
    import graft.pipeline.Curation
    val tokens = Map("big" -> 900000L, "small" -> 100000L)
    // T = 1: weight ∝ tokens — every source keeps the same fraction
    val nat = Curation.ratesForTemperature(tokens, 500000L, 1.0)
    assert(nat("big") == 500000L && nat("small") == 500000L)
    // T → ∞: equal token shares; small saturates, leftover flows to big
    val flat = Curation.ratesForTemperature(tokens, 500000L, 1e9)
    assert(flat("small") == 1000000L)
    assert(math.abs(flat("big") - 444444L) <= 1L)
    // monotone: higher T never lowers the small source's rate
    val t2 = Curation.ratesForTemperature(tokens, 500000L, 2.0)
    assert(t2("small") >= nat("small") && t2("small") <= flat("small"))
    intercept[IllegalArgumentException] {
      Curation.ratesForTemperature(tokens, 1L, 0.0)
    }
  }

  test("shuffleOrder: deterministic scrambled permutation, resumable positions") {
    import graft.pipeline.Curation
    val docs = (0L until 500L).map(i => (i, s"s${i % 3}"))
      .toDF("doc_id", "source").repartition(8)
    def lcg(id: Long) = (id % 1048576L * 2654435761L + 40503L) % 1048576L
    val got = rowsOf(Curation.shuffleOrder(docs))
      .map(r => r("doc_id").asInstanceOf[Long] -> r("pos").asInstanceOf[Long])
      .toMap
    // a permutation of 0..N-1, equal to the in-test LCG ordering
    assert(got.values.toSeq.sorted == (0L until 500L))
    val expect = (0L until 500L).sortBy(i => (lcg(i), i)).zipWithIndex
      .map { case (id, p) => id -> p.toLong }.toMap
    assert(got == expect)
    // replays identically (data-deterministic buckets, not instance seeds)
    assert(rowsOf(Curation.shuffleOrder(docs)).map(r =>
      r("doc_id").asInstanceOf[Long] -> r("pos").asInstanceOf[Long]).toMap
      == got)
    // each epoch is its own replayable permutation of 0..N-1
    def epochOrder(ep: Int) = rowsOf(Curation.shuffleOrder(docs, epoch = ep))
      .map(r => r("doc_id").asInstanceOf[Long] -> r("pos").asInstanceOf[Long])
      .toMap
    val e1 = epochOrder(1)
    assert(e1.values.toSeq.sorted == (0L until 500L))
    assert(e1 != got) // the prime offset really moves the draw
    assert(e1 == (0L until 500L).sortBy(i => (lcg(i + 7919L), i)).zipWithIndex
      .map { case (id, p) => id -> p.toLong }.toMap)
    assert(epochOrder(1) == e1) // replayable per epoch
  }

  test("packSequences/packSpans: fixed-token sequences, straddles, full coverage") {
    import graft.pipeline.Curation
    // 10 docs with 0..18 tokens each around a seqLen of 8: empties,
    // exact fits, multi-sequence straddlers
    val docs = (0L until 10L).map { i =>
      val n = (i * 7 % 19).toInt
      (i, Seq.fill(n)(s"t$i").mkString(" "))
    }.toDF("doc_id", "text")
    val L = 8
    val seqs = rowsOf(Curation.packSequences(docs, L))
      .map(r => r("doc_id").asInstanceOf[Long] ->
        ((r("n_toks").asInstanceOf[Long], r("tok_start").asInstanceOf[Long],
          r("seq_first").asInstanceOf[Long], r("seq_last").asInstanceOf[Long])))
      .toMap
    // offsets are the exclusive prefix sum in doc order
    val nt = (0L until 10L).map(i => (i * 7 % 19))
    val starts = nt.scanLeft(0L)(_ + _)
    (0 until 10).foreach { i =>
      val (n, st, sf, sl) = seqs(i.toLong)
      assert(n == nt(i) && st == starts(i))
      assert(sf == st / L && sl == (st + math.max(n, 1) - 1) / L)
    }
    val spans = rowsOf(Curation.packSpans(docs, L)).map(r =>
      (r("seq_id").asInstanceOf[Long], r("doc_id").asInstanceOf[Long],
        r("take_from").asInstanceOf[Long], r("take_len").asInstanceOf[Long]))
    // every sequence is exactly seqLen tokens, except the corpus tail
    val total = nt.sum
    val bySeq = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = (total - 1) / L
    bySeq.foreach { case (s, len) =>
      if (s < lastSeq) assert(len == L, s"seq $s has $len tokens")
      else assert(len == total - lastSeq * L)
    }
    // and every non-empty doc's slices are contiguous and cover it fully
    spans.groupBy(_._2).foreach { case (d, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L)
      assert(sorted.map(_._4).sum == seqs(d)._1)
      sorted.sliding(2).foreach {
        case scala.collection.immutable.Seq((_, _, f1, l1), (_, _, f2, _)) =>
          assert(f2 == f1 + l1)
        case _ =>
      }
    }
    // empty docs appear in packSequences but never in packSpans
    assert(seqs.contains(0L) && !spans.exists(_._2 == 0L))
  }

  test("c4LineFilter: line rules, doc-level brace and min-line drops, order kept") {
    import graft.pipeline.Curation
    val docs = Seq(
      (1L, "Good first sentence here.\nshort.\nno terminal punct line\n" +
        "this one mentions javascript today.\nAnother good line stays!"),
      (2L, "function() { return 1; } is code."),
      (3L, "only fragments\nno punct"),
      (4L, "Single fine sentence survives alone.")
    ).toDF("doc_id", "text")
    val out = Curation.c4LineFilter(docs, minWords = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    // doc 2 has braces, doc 3 keeps zero lines: both dropped whole
    assert(out.keySet == Set(1L, 4L))
    assert(out(1L)._1 ==
      "Good first sentence here.\nAnother good line stays!")
    assert(out(1L)._2 == 2 && out(1L)._3 == 3)
    assert(out(4L) == ("Single fine sentence survives alone.", 1, 0))
  }

  test("sampleExactPerSource: exactly k per source, deterministic, WindowGroupLimit planned") {
    import graft.pipeline.Curation
    val docs = (0L until 300L).map(i =>
      (i, s"src${i % 3}", s"text $i")).toDF("doc_id", "source", "text")
    val out = Curation.sampleExactPerSource(docs, k = 10)
    val bySource = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == Map("src0" -> 10L, "src1" -> 10L, "src2" -> 10L))
    // a source smaller than k is kept whole, never padded
    val tiny = docs.filter(col("doc_id") < 5)
    assert(Curation.sampleExactPerSource(tiny, k = 10).count() == 5)
    // deterministic draw
    val again = Curation.sampleExactPerSource(docs, k = 10)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // per-group partial top-k in the plan, not a global sort
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("tfidf: corpus-wide tokens score zero, rare tokens rank first") {
    val d = docs(
      (1L, "the cat sat"),
      (2L, "the dog ran"),
      (3L, "the cat ran"))
    val out = rowsOf(TextPipeline.tfidfKeywords(d, k = 2))
    // 'the' is in every doc -> ln(3/3) = 0, never outranks a rarer token
    val byDoc = out.groupBy(_("doc_id").asInstanceOf[Long])
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    val top1 = byDoc.view.mapValues(
      _.find(_("rank") == 1).get("token").asInstanceOf[String]).toMap
    // doc 1: 'sat' (df=1) beats 'cat' (df=2); doc 2: 'dog' (df=1)
    assert(top1(1L) == "sat" && top1(2L) == "dog")
    assert(out.forall(r => r("token") != "the" ||
      r("tfidf").asInstanceOf[Double] == 0.0))
    // tf weighting: a repeated rare token scores tf x single score
    val d2 = docs((1L, "x x y"), (2L, "z z z"))
    val o2 = rowsOf(TextPipeline.tfidfKeywords(d2, k = 1))
    assert(o2.find(_("doc_id") == 1L).get("token") == "x")
  }

  test("bpeMerges table carries learned order and counts") {
    val d = docs((1L, "aaab aaab aab"))
    val m = rowsOf(TextPipeline.bpeMerges(d, numMerges = 10, minPairCount = 2L))
    assert(m.map(r => (r("rank"), r("pair"), r("cnt"))) ==
      Seq((0, "a a", 5L), (1, "a b", 2L), (2, "aa ab", 2L)))
  }

  test("nbClassify: distinctive vocabularies recover their class; split respected") {
    import graft.pipeline.Curation
    import spark.implicits._
    // three classes with disjoint content words + shared stop-ish noise
    val vocab = Map("news" -> "election senate policy vote",
      "code" -> "compile lambda pointer thread",
      "recipe" -> "butter flour oven simmer")
    val rows = (0 until 30).map { i =>
      val cls = Seq("news", "code", "recipe")(i % 3)
      (i.toLong, s"the and of ${vocab(cls)} ${vocab(cls)}", cls)
    }
    val df = rows.toDF("doc_id", "text", "source")
    val out = Curation.nbClassify(df, labelCol = "source", testMod = 5)
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // only the held-out split is scored, and every doc recovers its class
    assert(got.nonEmpty && got.forall(_._1 % 5 == 0))
    assert(got.length == rows.count(_._1 % 5 == 0))
    assert(got.forall { case (_, actual, pred) => actual == pred },
      s"misclassified: ${got.filterNot(g => g._2 == g._3).toSeq}")
  }

  test("nbClassify: model stays broadcast-sized and the plan has no window or sort-merge join") {
    import graft.pipeline.Curation
    import spark.implicits._
    val df = (0 until 40).map(i =>
      (i.toLong, s"w$i w${i % 7} shared tokens here", s"s${i % 4}"))
      .toDF("doc_id", "text", "source")
    val plan = Curation.nbClassify(df, testMod = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model should broadcast:\n$plan")
    assert(!plan.contains("Window"), "no window functions in train or score")
    // the scoring join keys on bucket against the broadcast grid only
    assert(!plan.toLowerCase.contains("sortmergejoin"),
      "corpus-side sort-merge join would shuffle the exploded features")
  }

  test("nbClassify: empty-text documents drop; prior breaks feature ties toward the bigger class") {
    import graft.pipeline.Curation
    import spark.implicits._
    val df = Seq(
      (0L, "", "a"), // test split, no tokens → dropped
      (5L, "zz", "a"), // test split: 'zz' unseen in training
      (1L, "x", "a"), (2L, "x", "b"), (3L, "x", "b"), (4L, "x", "b"),
      (6L, "x", "b"), (7L, "x", "b"), (8L, "x", "b"))
      .toDF("doc_id", "text", "source")
    val got = Curation.nbClassify(df, testMod = 5).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!got.contains(0L), "token-less doc must drop")
    // all-unseen features → per-class ll is the uniform Laplace floor
    // scaled by tot_c; the larger class has more mass (higher prior,
    // lower floor) — b trained on 6 docs of 1 token vs a's 1
    assert(got.contains(5L))
  }

  test("RefBpe fixture trainer matches the distributed bpeTrain") {
    // the Verify-time oracle fixture and the Spark path must learn the
    // same merges (count desc, pair asc tie-break, minPairCount stop) or
    // the pinned q_bpe_train oracle would drift from the engine
    val texts = Seq(
      "the merge rate of the merge table", "rate the table the merge",
      "aaab aaab aab zz zz zzz", "singleton words here only once")
    val d = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val spark_ = TextPipeline.bpeTrain(d, numMerges = 12, minPairCount = 2L)
    val ref = RefBpe.train(texts, numMerges = 12, minPairCount = 2L)
    assert(spark_ == ref)
  }

  test("normalizeText: NFC convergence, control strip, whitespace collapse, changed flag") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val decomposed = "Café menu"
    val composed = "Café menu"
    val messy = "ab\tc  d "   // BEL stripped, tab+doubles collapse, trim
    val clean = "already clean"
    val docs = Seq((1L, decomposed), (2L, composed), (3L, messy), (4L, clean))
      .toDF("doc_id", "text")
    val out = rowsOf(TextPipeline.normalizeText(docs))
      .map(r => (r("doc_id").asInstanceOf[Long],
        r("text_norm").asInstanceOf[String],
        r("changed").asInstanceOf[Boolean])).sortBy(_._1)
    // composed and decomposed spellings converge to ONE byte form —
    // the property that makes downstream hash-dedup see them as equal
    assert(out(0)._2 == out(1)._2 && out(0)._2 == composed)
    assert(out(0)._3 && !out(1)._3) // only the decomposed row changed
    assert(out(2) == ((3L, "ab c d", true)))
    assert(out(3) == ((4L, clean, false)))
    // idempotence: a second pass changes nothing
    val again = TextPipeline.normalizeText(
      TextPipeline.normalizeText(docs)
        .select(col("doc_id"), col("text_norm").as("text")))
    assert(rowsOf(again).forall(!_("changed").asInstanceOf[Boolean]))
    // dedupExactByHash sees the converged pair as duplicates
    val deduped = graft.pipeline.TextPipeline.dedupExactByHash(
      TextPipeline.normalizeText(docs)
        .select(col("doc_id"), col("text_norm").as("text")))
    assert(deduped.count() == 3)
  }

  test("bpeTrainBatched: batch=1 reproduces sequential; any batch matches RefBpe twin") {
    val texts = Seq(
      "the merge rate of the merge table", "rate the table the merge",
      "aaab aaab aab zz zz zzz", "singleton words here only once",
      "interleave the rate of merge tables with more words")
    val d = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    // batch=1 is EXACTLY the one-at-a-time algorithm
    assert(RefBpe.train(texts, numMerges = 10) ==
      TextPipeline.bpeTrain(d, numMerges = 10, batchSize = 1))
    // larger batches: distributed == independent in-memory twin (the
    // q_bpe_train_batched oracle contract), full vocab still learned
    for (b <- Seq(4, 8)) {
      val got = TextPipeline.bpeTrain(d, numMerges = 12, batchSize = b)
      assert(got == RefBpe.trainBatched(texts, numMerges = 12, batchSize = b),
        s"batchSize=$b diverged from RefBpe twin")
      // adopted pairs within a round have disjoint symbols by
      // construction — every merge must still clear minPairCount
      assert(got.forall(_._2 >= 2L))
    }
  }

  test("CorpusSource.readJsonl: good rows in, rejects quarantined, ids derived") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val lines = Seq(
      """{"id": 1, "text": "carried id and source", "source": "dumpA"}""",
      """{"text": "no id, no source", "extra": "ignored"}""",
      """{"id": 3, "text": ""}""",              // empty text -> quarantine
      """{"id": 4}""",                           // missing text -> quarantine
      """not json at all {{{""",                 // malformed -> quarantine
      """{"id": 5, "text": "ok", "source": "dumpB"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes)
    val good = graft.core.CorpusSource.readJsonl(spark, dir, "fallback")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(good.length == 3)
    assert(good.contains((1L, "carried id and source", "dumpA")))
    assert(good.contains((5L, "ok", "dumpB")))
    val derived = good.find(_._2 == "no id, no source").get
    assert(derived._3 == "fallback")
    // content-derived id: the 47-bit fingerprint of source||text, stable
    val expected = ("" + "no id, no source")
      .foldLeft(0L)((a, c) => (a * 31 + c) % 140737488355213L)
    assert(derived._1 == expected)
    val q = graft.core.CorpusSource.quarantine(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.length == 3, s"quarantine: ${q.toSeq}")
    assert(q.count(_._2 == "malformed_json") == 1)
    assert(q.count(_._2 == "missing_text") == 2)
    assert(good.length + q.length == lines.length, "exact split, nothing lost")
  }

  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")

  test("marginNeighbors matches an independent reference; hub candidates penalized") {
    val as = Seq(0L -> Seq(1.0, 0.1, 0.0), 2L -> Seq(0.0, 1.0, 0.2),
      4L -> Seq(0.5, 0.5, 0.7), 6L -> Seq(0.2, 0.1, 1.0))
    val bs = Seq(1L -> Seq(0.9, 0.2, 0.1), 3L -> Seq(0.1, 0.9, 0.3),
      5L -> Seq(0.6, 0.6, 0.6), 7L -> Seq(0.1, 0.2, 0.9))
    val k = 2
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      math.rint(d / n * 1e6) / 1e6
    }
    // positive-cosine pairs only — the operator cuts anti-correlated
    // candidates before the margin stage
    val cosMap = (for ((qi, qv) <- as; (ni, nv) <- bs;
        c = cos(qv, nv) if c > 0) yield (qi, ni) -> c).toMap
    def topAvg(pairsOf: Seq[(Long, Long)], get: ((Long, Long)) => Double) = {
      val cs = pairsOf.map(p => (get(p), p)).sortBy { case (c, p) => (-c, p._2) }
        .take(k).map(_._1)
      cs.sum / cs.size
    }
    val ref = as.map(_._1).flatMap { qi =>
      val qPairs = bs.map(_._1).map(ni => (qi, ni)).filter(cosMap.contains)
      if (qPairs.isEmpty) None else {
        val aq = topAvg(qPairs, cosMap)
        val best = qPairs.map { case (_, ni) =>
          val nPairs = as.map(_._1).map(q2 => (q2, ni)).filter(cosMap.contains)
          val an = topAvg(nPairs, cosMap)
          val m = math.rint(cosMap((qi, ni)) / ((aq + an) / 2) * 1e6) / 1e6
          (m, ni)
        }.sortBy { case (m, ni) => (-m, ni) }.head
        Some((qi, best._2, best._1))
      }
    }.filter(_._3 >= 1.0).map { case (q, n, m) => (q, n) }.toSet
    val got = Similarity.marginNeighbors(
      as.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding"),
      bs.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding"),
      k = k, minMargin = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref, s"got=$got ref=$ref")

    // hub penalization: the hub is the TOP raw-cosine candidate for both
    // queries (0.970 vs the dedicated twins' 0.922), but its high
    // neighborhood average halves its margin — each query mines its
    // dedicated twin, which argmax-cosine would never return
    val qs = Seq(0L -> Seq(1.0, 0.25), 2L -> Seq(1.0, -0.25))
    val cands = Seq(
      1L -> Seq(1.0, 0.0),    // hub: cos ~0.970 with BOTH queries
      3L -> Seq(0.8, 0.6),    // dedicated to q0: cos ~0.922 (< hub!)
      5L -> Seq(0.8, -0.6))   // dedicated to q2: cos ~0.922 (< hub!)
    val out = Similarity.marginNeighbors(
      qs.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding"),
      cands.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding"),
      k = 2, minMargin = 0.0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 3L, 2L -> 5L),
      s"each query must mine its dedicated twin, not the hub: $out")
  }

  test("marginNeighborsLsh: exact duplicates always recalled; hot-bucket cap engages") {
    // an identical vector on both sides shares every band bucket —
    // banded LSH recalls exact duplicates with probability 1
    val dup = Seq(0.4, -0.7, 0.2, 0.9)
    val as = Seq(0L -> dup, 2L -> Seq(0.9, 0.8, -0.5, 0.1))
    val bs = Seq(1L -> dup, 3L -> Seq(-0.8, 0.3, 0.6, -0.9))
    def df(rows: Seq[(Long, Seq[Double])]) =
      rows.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
    val out = Similarity.marginNeighborsLsh(df(as), df(bs),
      planes = 16, bands = 4, k = 2, minMargin = 0.0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.contains(0L) && out(0L)._1 == 1L && out(0L)._2 == 1.0,
      s"duplicate pair must be mined with cosine 1.0: $out")
    // the cap is PER-SIDE membership (pair volume per bucket is
    // |A∩bucket|·|B∩bucket| ≤ cap²): three identical a-vectors make a
    // 3-member a-side bucket, so maxBucket = 2 drops it and the
    // duplicate pairing vanishes
    val hotA = df(Seq(0L -> dup, 2L -> dup, 4L -> dup))
    val uncapped = Similarity.marginNeighborsLsh(hotA, df(bs),
      planes = 16, bands = 4, k = 2, minMargin = 0.0)
    assert(uncapped.collect().exists(r => r.getLong(1) == 1L))
    val capped = Similarity.marginNeighborsLsh(hotA, df(bs),
      planes = 16, bands = 4, k = 2, minMargin = 0.0, maxBucket = 2L)
    assert(!capped.collect().exists(r => r.getLong(1) == 1L),
      "over-cap a-side bucket must stop pairing against the duplicate")
  }

  test("kmeansLloyd separates well-spaced blobs and reports nearest-centroid dist") {
    val d = vecs(
      0L -> Seq(0.0, 0.0), 1L -> Seq(10.0, 10.0),
      2L -> Seq(0.1, 0.0), 3L -> Seq(0.0, 0.2), 4L -> Seq(0.1, 0.1),
      5L -> Seq(10.1, 10.0), 6L -> Seq(9.9, 10.1), 7L -> Seq(10.0, 9.8))
    val out = Similarity.kmeansLloyd(d, k = 2, iters = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val lowBlob = Set(0L, 2L, 3L, 4L).map(out(_)._1)
    val hiBlob = Set(1L, 5L, 6L, 7L).map(out(_)._1)
    assert(lowBlob.size == 1 && hiBlob.size == 1 && lowBlob != hiBlob,
      "each blob lands in one cluster, blobs in different clusters")
    assert(out.values.forall(_._2 < 1.0), "within-blob dists are small")
  }

  test("kmeansLloyd iters=0 assigns to the lowest-id init vectors") {
    val d = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(4.0, 4.0),
      2L -> Seq(0.4, 0.0), 3L -> Seq(4.4, 4.0))
    val out = Similarity.kmeansLloyd(d, k = 2, iters = 0).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(out(0L) == (0, 0.0) && out(1L) == (1, 0.0),
      "init vectors assign to themselves at distance 0")
    assert(out(2L)._1 == 0 && out(3L)._1 == 1)
  }

  test("kmeansLloyd keeps the previous centroid for an emptied cluster") {
    // init c0 = c1 = (0,0); every vector ties to c0 (lowest cid), so c1
    // empties after the update and must keep (0,0) — the final
    // assignment then splits on the KEPT centroid
    val d = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 0.0), 2L -> Seq(5.0, 5.0))
    val out = Similarity.kmeansLloyd(d, k = 2, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(0L) == 1 && out(1L) == 1, "zeros go to the kept (0,0) centroid")
    assert(out(2L) == 0, "far point stays with the updated mean centroid")
  }

  test("bm25: matching docs ranked, tf saturates, longer docs penalized") {
    val d = docs(
      1L -> "spark spark spark noise noise",       // tf=3, dl=5
      2L -> "spark noise noise noise noise",       // tf=1, dl=5
      3L -> "spark noise noise noise noise noise noise noise noise noise", // tf=1, dl=10
      4L -> "nothing relevant here at all")
    val out = rowsOf(TextPipeline.bm25(d, Seq("spark"), topK = 10))
    assert(out.size == 3, "non-matching doc must not appear")
    val byId = out.map(r => r("doc_id") -> r).toMap
    val s = (i: Long) => byId(i)("bm25").asInstanceOf[Double]
    assert(s(1L) > s(2L), "higher tf ranks higher")
    assert(s(2L) > s(3L), "same tf, longer doc ranks lower (b-normalization)")
    assert(byId(1L)("rank") == 1)
    // hand check doc 2: N=4, df=3, idf=ln(1+1.5/3.5); dl=5, avgdl=6.25
    val idf = math.log(1 + 1.5 / 3.5)
    val expect2 = idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 5 / 6.25))
    assert(math.abs(s(2L) - math.rint(expect2 * 1e6) / 1e6) < 1e-9)
  }

  test("bm25: tf saturation bounded by k1+1 — score ratio under tf ratio") {
    val d = docs(1L -> Seq.fill(50)("spark").mkString(" "),
                 2L -> ("spark " + Seq.fill(49)("pad").mkString(" ")))
    val out = rowsOf(TextPipeline.bm25(d, Seq("spark"), topK = 10))
    val byId = out.map(r => r("doc_id") -> r("bm25").asInstanceOf[Double]).toMap
    assert(byId(1L) / byId(2L) < 3.0, "50x tf must not give 50x score")
  }

  test("winnowing guarantee: a shared run of w+k-1 tokens shares a fingerprint") {
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens = w+k-1 for k=5,w=4
    val d = docs(
      1L -> s"one two $run three four",
      2L -> s"nine ten eleven $run twelve",
      3L -> "completely different words everywhere in this document body")
    val fp = TextPipeline.winnowFingerprintsNative(d, k = 5, w = 4)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
  }

  test("winnowing: fingerprints are a subset of gram hashes, one per window") {
    val d = docs(1L -> "a b c d e f g h i j k l m n o p")
    val fp = TextPipeline.winnowFingerprintsNative(d, k = 3, w = 4).collect()
    val grams = d.select(graft.expressions.TextExpressions.polyHash47(
        graft.expressions.TextExpressions.wordShingles(col("text"), 3)))
      .collect().head.getSeq[Long](0)
    assert(fp.map(_.getLong(2)).toSet.subsetOf(grams.toSet))
    assert(fp.forall(r => grams(r.getInt(1)) == r.getLong(2)),
      "reported pos must point at the reported hash")
    assert(fp.length <= grams.length - 4 + 1, "at most one selection per window")
    // expected density ~2/(w+1): strictly fewer fingerprints than grams
    assert(fp.length < grams.length)
  }

  test("winnowing tie rule: equal hashes select the rightmost position") {
    val d = docs(1L -> Seq.fill(10)("same").mkString(" "))
    val fp = TextPipeline.winnowFingerprintsNative(d, k = 3, w = 4).collect()
    // all 8 gram hashes are equal; every window picks its newest position
    assert(fp.map(_.getInt(1)).sorted.toSeq == (3 to 7).toSeq)
  }

  test("bm25 plan: broadcast df join, top-k as TakeOrderedAndProject") {
    val d = docs(1L -> "spark stream a b c d e f g h i j",
                 2L -> "spark filter k l m n o p q r s t")
    val bp = TextPipeline.bm25(d, Seq("spark", "filter"), topK = 5)
      .queryExecution.executedPlan.toString
    assert(bp.contains("BroadcastHashJoin") || bp.contains("BroadcastNestedLoopJoin"),
      s"df/stats sides must broadcast, not shuffle:\n$bp")
    assert(bp.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject, not a global sort:\n$bp")
  }

  test("ingestWinnow: two-batch union equals batch candidates, exactly once") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val all = docs(
      1L -> s"one two $run three",
      2L -> s"five six $run seven",          // overlaps 1 (same batch)
      3L -> s"eight nine $run ten",          // overlaps 1 & 2 (later batch)
      4L -> "unrelated content with no shared runs at all whatsoever")
    val dir = java.nio.file.Files.createTempDirectory("winnow_inc").toString
    val b1 = all.filter(col("doc_id") <= 2)
    val b2 = all.filter(col("doc_id") > 2)
    val out1 = rowsOf(graft.pipeline.IncrementalDedup
      .ingestWinnow(dir, b1, k = 3, w = 4, minShared = 1))
    val out2 = rowsOf(graft.pipeline.IncrementalDedup
      .ingestWinnow(dir, b2, k = 3, w = 4, minShared = 1))
    val batch = rowsOf(TextPipeline.winnowCandidates(all, k = 3, w = 4,
      minShared = 1))
    def key(r: Map[String, Any]) = s"${r("doc_a")}|${r("doc_b")}|${r("shared")}"
    assert((out1 ++ out2).map(key).sorted == batch.map(key).sorted,
      "union of increments == batch candidates (same shared counts)")
    assert(out1.map(key).toSet.intersect(out2.map(key).toSet).isEmpty,
      "no pair emitted twice across ingests")
    assert(out2.exists(r => r("doc_a") == 1L && r("doc_b") == 3L),
      "cross-batch pair emitted at the later member's ingest")
  }

  test("winnowCandidates pairs overlapping docs, respects minShared and cap") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(
      1L -> s"one two $run three",
      2L -> s"five six $run seven",
      3L -> "unrelated content with no shared runs at all whatsoever")
    val out = rowsOf(TextPipeline.winnowCandidates(d, k = 3, w = 4, minShared = 1))
    assert(out.exists(r => r("doc_a") == 1L && r("doc_b") == 2L))
    assert(!out.exists(r => r("doc_a") == 3L || r("doc_b") == 3L))
    // a cap of 1 drops every shared fingerprint bucket (each appears in 2 docs)
    val capped = rowsOf(TextPipeline.winnowCandidates(d, k = 3, w = 4,
      minShared = 1, maxDocs = 1))
    assert(capped.isEmpty)
  }

  test("shardManifest: per-shard integrity, mutation pinpointed to its shard") {
    import graft.pipeline.Curation
    val docs = (1L to 40L).map(i => (i, s"alpha beta gamma w$i", "s"))
      .toDF("doc_id", "text", "source")
    val m = Curation.shardManifest(docs, 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m.keySet == Set(0, 1, 2, 3))
    assert(m.values.map(_._1).sum == 40L) // every doc in exactly one shard
    // same-token-count tamper of doc 7: docs/tokens identical everywhere,
    // checksum differs in EXACTLY the shard holding doc 7
    val tampered = docs.withColumn("text",
      when(col("doc_id") === 7L, lit("alpha beta gamma zz"))
        .otherwise(col("text")))
    val mt = Curation.shardManifest(tampered, 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m.keySet == mt.keySet)
    assert(m.forall { case (s, (d, t, _)) => mt(s)._1 == d && mt(s)._2 == t })
    val changed = m.keySet.filter(s => m(s)._3 != mt(s)._3)
    assert(changed.size == 1, s"checksum diff in shards $changed")
  }

  test("sourceOverlap: pairwise shared grams + jaccard against hand counts") {
    import graft.pipeline.Curation
    // A and B share the trigram run "x y z w" (2 shared 3-grams),
    // C shares nothing with anyone
    val docs = Seq(
      (1L, "x y z w a b", "A"),   // grams: xyz yzw zwa wab
      (2L, "x y z w c", "B"),     // grams: xyz yzw zwc
      (3L, "p q r s t", "C"))     // grams: pqr qrs rst
      .toDF("doc_id", "text", "source")
    val out = Curation.sourceOverlap(docs, n = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // shared {xyz, yzw}; totals A=4, B=3 → jaccard 2/(4+3-2)=0.4
    assert(out == Map(("A", "B") -> ((2L, 0.4))), out)
  }

  test("sourceOverlap: >62 sources takes the join fallback and equals the mask path") {
    import graft.pipeline.Curation
    // 70 sources — one doc each — forces the join fallback (the bit_or
    // mask is a single long, capped at 62 sources). Every source holds
    // the shared run "x y z w"; sources s00..s09 add a private tail, so
    // totals differ between the two groups and the jaccard exercises
    // both the shared and the diagonal cells through the fallback.
    val docs = (0 until 70).map { i =>
      val priv = if (i < 10) s" p$i q$i r$i" else ""
      (i.toLong, "x y z w" + priv, f"s$i%02d")
    }.toDF("doc_id", "text", "source")
    val out = Curation.sourceOverlap(docs, n = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 70 * 69 / 2)
    // two plain sources: share both 3-grams of "x y z w", totals 2 and 2
    assert(out(("s10", "s11")) == ((2L, 1.0)))
    // plain vs private-tail source: shared 2, totals 2 and 5 → 2/5
    assert(out(("s09", "s10"))._1 == 2L && out(("s09", "s10"))._2 == 0.4)
    // the mask fast path (≤ 62 sources) must agree cell-for-cell with
    // the fallback on the same corpus restricted to 60 sources
    val docs60 = docs.filter(col("doc_id") < 60)
    val mask = Curation.sourceOverlap(docs60, n = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val expect60 = out.filter { case ((a, b), _) => a < "s60" && b < "s60" }
    assert(mask == expect60)
  }

  test("corpusDiff: added/removed/changed only — unchanged rows dropped") {
    import graft.pipeline.Curation
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("doc_id", "text")
    val out = Curation.corpusDiff(prev, cur).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    // delta-sized shuffle contract: only (doc_id, digest) reach the join
    val plan = Curation.corpusDiff(prev, cur).queryExecution.optimizedPlan
    val joinIn = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.children.flatMap(_.output.map(_.name))
    }.flatten
    assert(joinIn.nonEmpty && !joinIn.contains("text"), joinIn)
  }
}
