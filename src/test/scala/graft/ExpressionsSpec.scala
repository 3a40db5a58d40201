package graft

import org.apache.spark.sql.functions._
import graft.expressions.{GraftFunctions, Ipv4ToLong, Ipv4Util}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def u(s: String) = UTF8String.fromString(s)

  test("Ipv4Util.parse: valid, boundary, malformed") {
    assert(Ipv4Util.parse(u("1.2.3.4")) == 16909060L)
    assert(Ipv4Util.parse(u("0.0.0.0")) == 0L)
    assert(Ipv4Util.parse(u("255.255.255.255")) == 4294967295L)
    for (bad <- Seq("", "1.2.3", "1.2.3.4.5", "1.2.3.256", "a.b.c.d",
                    "1..2.3", "1.2.3.4.", ".1.2.3.4", "01.2.3.4444"))
      assert(Ipv4Util.parse(u(bad)) == -1L, s"expected -1 for '$bad'")
  }

  test("native expressions evaluate via Column API (codegen path)") {
    val df = Seq("10.0.0.5", "10.0.1.5", "nonsense", null)
      .toDF("ip")
      .select(col("ip"),
        ColumnBridge.column(Ipv4ToLong(ColumnBridge.expression(col("ip"))))
          .as("n"),
        GraftFunctions.cidrMatch(col("ip"), lit("10.0.0.0/24")).as("m"))
    val r = df.collect()
    assert(r(0).getLong(1) == 167772165L && r(0).getBoolean(2))
    assert(!r(1).getBoolean(2))
    assert(r(2).isNullAt(1) && r(2).isNullAt(2))
    assert(r(3).isNullAt(1) && r(3).isNullAt(2))
  }

  test("SQL registration: ip4_to_long / cidr_match callable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT ip4_to_long('1.2.3.4') AS n,
        |       cidr_match('192.168.1.77', '192.168.0.0/16') AS hit,
        |       cidr_match('192.169.0.1', '192.168.0.0/16') AS miss,
        |       cidr_match('192.168.1.77', 'junk') AS bad""".stripMargin).head()
    assert(r.getLong(0) == 16909060L)
    assert(r.getBoolean(1) && !r.getBoolean(2) && r.isNullAt(3))
  }

  test("SQL registration: text expressions callable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT word_shingles('a b c', 2, true) AS sh,
        |       poly_hash47(array('ab')) AS h,
        |       minhash_sig(poly_hash47(array('ab')), 2) AS sig""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b", "b c"))
    val expected = ("ab".foldLeft(0L)((acc, c) => (acc * 31 + c) % 140737488355213L))
    assert(r.getSeq[Long](1) == Seq(expected))
    assert(r.getSeq[Long](2) == Seq(
      (expected + 7) % 140737488355213L, (expected * 3 + 38) % 140737488355213L))
    // winnow_fp('a a a', 1, 2): 2 windows over 3 equal hashes, rightmost
    // tie rule → positions 1 and 2 with the token hash of "a"
    val ha = ('a'.toLong) % 140737488355213L
    val wf = spark.sql("SELECT winnow_fp('a a a', 1, 2) AS f").head().getSeq[Long](0)
    assert(wf == Seq(ha * 65536 + (65535 - 1), ha * 65536 + (65535 - 2)))
    // threshold edit distance: value if <= k, -1 past the bound
    val lb = spark.sql(
      """SELECT levenshtein_banded('kitten', 'sitting', 3) AS a,
        |       levenshtein_banded('kitten', 'sitting', 2) AS b""".stripMargin)
      .head()
    assert(lb.getInt(0) == 3 && lb.getInt(1) == -1)
  }

  test("native char_entropy is bit-identical to the Column composite") {
    import graft.expressions.TextExpressions
    import graft.functions.TextFunctions
    val strs = Seq("abc", "aaaa", "a1b2c3!@#", "host17.zone3.example",
      "zzzzzzzzzzzy", "the quick brown fox")
    val df = strs.zipWithIndex.map(_.swap).toDF("id", "s")
    val both = df.select(
      TextExpressions.charEntropy(col("s")).as("native"),
      TextFunctions.charEntropy(col("s")).as("composite")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"entropy mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("deflate_ratio: repetition compresses, prose doesn't, SQL face registered") {
    import graft.expressions.TextExpressions
    val rnd = new scala.util.Random(11)
    val boiler = "click here to subscribe now " * 40
    val prose = Seq.fill(200)(rnd.alphanumeric.take(5).mkString).mkString(" ")
    val df = Seq((1, boiler), (2, prose), (3, ""), (4, "hi"))
      .toDF("id", "s")
    val r = df.select(col("id"),
        TextExpressions.deflateRatio(col("s")).as("ratio"))
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(r(1) < 0.1, s"boilerplate ratio ${r(1)}") // 40x repetition
    assert(r(2) > 0.5, s"prose ratio ${r(2)}")       // high-entropy text
    assert(r(3) == 0.0)                              // empty → 0
    assert(r(4) > 1.0)                               // overhead beats 2 bytes
    // deterministic and SQL-registered
    graft.expressions.GraftFunctions.register(spark)
    val sql = spark.sql(
      s"SELECT deflate_ratio('${"ab " * 50}') AS x").head().getDouble(0)
    val col2 = df.filter(col("id") === 1).select(
      TextExpressions.deflateRatio(lit("ab " * 50))).head().getDouble(0)
    assert(sql == col2)
  }

  test("deflate_len: integer face consistent with the ratio, SQL registered") {
    import graft.expressions.TextExpressions
    val texts = Seq((1L, "click here " * 30), (2L, ""), (3L, "hi"),
      (4L, "naïve — ünïcode ≠ ascii"))
    val r = texts.toDF("id", "s").select(col("id"),
        TextExpressions.deflateLen(col("s")).as("dlen"),
        octet_length(col("s")).cast("long").as("rlen"),
        TextExpressions.deflateRatio(col("s")).as("ratio"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // ratio IS dlen/rlen rounded — the two faces may never drift
    r.foreach { case (id, (dlen, rlen, ratio)) =>
      val expect = if (rlen == 0) 0.0
        else StrictMath.rint(dlen.toDouble / rlen * 1e6) / 1e6
      assert(ratio == expect, s"id=$id dlen=$dlen rlen=$rlen ratio=$ratio")
    }
    assert(r(2L)._1 == 0L) // empty → 0 bytes, matching the ratio's 0.0
    graft.expressions.GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT deflate_len('abcabcabc') AS x").head().getLong(0)
    val viaCol = texts.toDF("id", "s").limit(1).select(
      TextExpressions.deflateLen(lit("abcabcabc"))).head().getLong(0)
    assert(viaSql == viaCol && viaSql > 0)
  }

  test("spark.sql.extensions install: functions and strategy active") {
    import org.apache.spark.sql.classic.{SparkSession => CSparkSession}
    val shared = spark // force-init the spec session BEFORE creating s2
    val prevDefault = CSparkSession.getDefaultSession
    val prevActive = CSparkSession.getActiveSession
    try {
      // fresh session state over the SAME SparkContext with the
      // extensions object applied exactly as the production
      // `--conf spark.sql.extensions=graft.expressions.GraftExtensions`
      // path instantiates it (the conf string itself can't be tested
      // in-JVM: it's a STATIC conf, read only at SparkContext start —
      // withExtensions injects the same class instance). Builder.create,
      // not getOrCreate, so the shared spec session is never returned.
      val s2 = CSparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.expressions.GraftExtensions()(_))
        .create()
      assert(s2 ne shared)
      // injected SQL function
      assert(s2.sql("SELECT cidr_match('10.1.2.3', '10.0.0.0/8') AS m")
        .head().getBoolean(0))
      // injected planner strategy (the native as-of join)
      assert(s2.sessionState.planner.strategies
        .contains(graft.plans.AsOfJoinStrategy))
    } finally {
      prevDefault.foreach(CSparkSession.setDefaultSession)
      prevActive.foreach(CSparkSession.setActiveSession)
    }
  }

  test("native vector distances are bit-identical to the Column composites") {
    import graft.expressions.VectorExpressions
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Seq[Double], Seq[Double])] =
      Seq.tabulate(50)(i => (Seq.fill(64)(rnd.nextDouble() * 2 - 1),
          Seq.fill(64)(rnd.nextDouble() * 2 - 1))) ++
        Seq((Seq.empty[Double], Seq.empty[Double]),          // empty: cos=0
          (Seq(0.0, 0.0), Seq(1.0, 2.0)),                    // zero norm
          (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))               // length mismatch
    val df = rows.toDF("a", "b")
    val both = df.select(
      VectorExpressions.cosine(col("a"), col("b")).as("nc"),
      VectorFunctions.cosine(col("a"), col("b")).as("cc"),
      VectorExpressions.l2Squared(col("a"), col("b")).as("nl"),
      VectorFunctions.l2Squared(col("a"), col("b")).as("cl"),
      VectorExpressions.dot(col("a"), col("b")).as("nd"),
      VectorFunctions.dot(col("a"), col("b")).as("cd")).collect()
    both.foreach { r =>
      for ((n, c) <- Seq((0, 1), (2, 3), (4, 5))) {
        assert(r.isNullAt(n) == r.isNullAt(c), s"null mismatch at $n/$c: $r")
        if (!r.isNullAt(n))
          assert(java.lang.Double.doubleToLongBits(r.getDouble(n)) ==
            java.lang.Double.doubleToLongBits(r.getDouble(c)),
            s"value mismatch at $n/$c: ${r.getDouble(n)} vs ${r.getDouble(c)}")
      }
    }
    // null input array → null on both tiers
    val nr = Seq((Option.empty[Seq[Double]], Option(Seq(1.0))))
      .toDF("a", "b")
      .select(VectorExpressions.cosine(col("a"), col("b")).as("n"),
        VectorFunctions.cosine(col("a"), col("b")).as("c")).collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("native LSH sign bits / bucket key equal the Column composites") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(40)(i =>
        (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1))).toDF("id", "vec")
    val both = df.select(
      Similarity.lshSignBits(col("vec"), 16).as("ns"),
      Similarity.lshBucket(col("vec"), 16).as("nb"),
      Similarity.lshBucketComposite(col("vec"), 16).as("cb")).collect()
    both.foreach { r =>
      // the composite key's bit `pl` is plane pl's sign
      val cb = r.getLong(2)
      val compositeSigns =
        (0 until 16).map(pl => if ((cb >> pl & 1L) == 1L) '1' else '0').mkString
      assert(r.getString(0) == compositeSigns, s"sign mismatch: $r")
      assert(r.getLong(1) == cb, s"bucket mismatch: $r")
    }
  }

  test("vector kernels on array<float>: bit-identical to the cast-to-double path") {
    // float→double widening is IEEE exact, so a float-element input must
    // produce BIT-identical doubles to casting array<double> first — the
    // contract that lets the pipeline hot paths keep embeddings float32
    // end-to-end (r19 heap-posture work) without moving any oracle value
    import graft.expressions.VectorExpressions
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(23)
    val df = Seq.tabulate(50)(i => (
        i.toLong,
        Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat),
        Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("id", "fa", "fb")
    val rows = df.select(
      VectorExpressions.cosine(col("fa"), col("fb")).as("cf"),
      VectorExpressions.cosine(col("fa").cast("array<double>"),
        col("fb").cast("array<double>")).as("cd"),
      VectorExpressions.dot(col("fa"), col("fb")).as("df_"),
      VectorExpressions.dot(col("fa").cast("array<double>"),
        col("fb").cast("array<double>")).as("dd"),
      VectorExpressions.l2Squared(col("fa"), col("fb")).as("lf"),
      VectorExpressions.l2Squared(col("fa").cast("array<double>"),
        col("fb").cast("array<double>")).as("ld"),
      // mixed pair: float corpus side vs double broadcast side
      VectorExpressions.cosine(col("fa"), col("fb").cast("array<double>")).as("cm"),
      Similarity.lshSignBits(col("fa"), 16).as("sf"),
      Similarity.lshSignBits(col("fa").cast("array<double>"), 16).as("sd"),
      Similarity.lshBucket(col("fa"), 16).as("bf"),
      Similarity.lshBucket(col("fa").cast("array<double>"), 16).as("bd"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"cosine: $r")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), s"dot: $r")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(5)), s"l2sq: $r")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(6)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(0)), s"mixed cosine: $r")
      assert(r.getString(7) == r.getString(8), s"sign bits: $r")
      assert(r.getLong(9) == r.getLong(10), s"bucket key: $r")
    }
  }

  test("native word_shingles/poly_hash47/minhash_sig equal the Column composites") {
    import graft.expressions.TextExpressions
    import graft.functions.{TextFunctions, VectorFunctions}
    val docs = Seq(
      "The quick brown fox  jumps over the lazy dog",
      "a a a a b", "single", "", "  ", "Tabs and  Spaces mixed")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val native = docs.select(col("doc_id"),
        TextExpressions.wordShingles(col("text"), n, distinct = true).as("s"))
      val composite = docs.select(col("doc_id"),
        array_distinct(TextFunctions.wordShingles(col("text"), n)).as("s"))
      assert(native.exceptAll(composite).count() == 0
        && composite.exceptAll(native).count() == 0, s"shingles n=$n")
    }
    val toks = docs.select(col("doc_id"),
      TextExpressions.wordShingles(col("text"), 1).as("toks"))
    val hNative = toks.select(col("doc_id"),
      TextExpressions.polyHash47(col("toks")).as("h"))
    val hComposite = toks.select(col("doc_id"),
      VectorFunctions.tokenHashes(col("toks")).cast("array<bigint>").as("h"))
    assert(hNative.exceptAll(hComposite).count() == 0, "polyHash47")
    val sigNative = hNative.select(TextExpressions.minhashSig(col("h"), 8).as("sig"))
      .collect().map(_.getSeq[Long](0)).toSeq
    val p = 140737488355213L
    val sigRef = hNative.collect().map { r =>
      val hs = r.getSeq[Long](1)
      (0 until 8).map(i => (hs.map(h => (h * (2 * i + 1) + 31L * i + 7L) % p)
        :+ Long.MaxValue).min).toSeq
    }.toSeq
    assert(sigNative == sigRef, "minhashSig")
  }

  test("native winnow_fp equals the explode+window reference tier") {
    import graft.pipeline.TextPipeline
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog again and again and again",
      "same same same same same same same same",        // all-tie → rightmost rule
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "short one", "",                                   // < w grams → empty
      "one two three one two three one two three one two")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((k, w) <- Seq((3, 4), (5, 4), (2, 2), (1, 3))) {
      val native = TextPipeline.winnowFingerprintsNative(docs, k, w)
      val ref = RefWinnow.winnowFingerprints(docs, k, w)
      assert(native.exceptAll(ref).count() == 0
        && ref.exceptAll(native).count() == 0, s"winnow k=$k w=$w")
    }
    // zero-shuffle claim: the native plan has no Exchange and no Window
    val plan = TextPipeline.winnowFingerprintsNative(docs, 3, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"native winnow must stay inside the scan stage:\n$plan")
  }

  test("native z_key equals the composed interleave; nulls and SQL registration") {
    import graft.expressions.LayoutExpressions
    import graft.scale.Layout
    val rows = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val both = rows.select(
      LayoutExpressions.zKey(Seq(col("x"), col("y")), 5).as("native"),
      Layout.interleaveBits(Seq(col("x"), col("y")), 5).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
    // three columns, wider keys
    val wide = Seq((1000L, 65535L, 12345L)).toDF("a", "b", "c").select(
      LayoutExpressions.zKey(Seq(col("a"), col("b"), col("c")), 16).as("n"),
      Layout.interleaveBits(Seq(col("a"), col("b"), col("c")), 16).as("m"))
      .head
    assert(wide.getLong(0) == wide.getLong(1))
    // NULL in any child nulls the key
    val withNull = Seq((Some(3L), Option.empty[Long]), (Some(3L), Some(1L)))
      .toDF("x", "y")
      .select(LayoutExpressions.zKey(Seq(col("x"), col("y")), 4).as("z"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(withNull.toSeq == Seq(None, Some(0b111L)))
    // SQL face: z_key(bits, c0, c1)
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT z_key(4, CAST(12 AS BIGINT), CAST(10 AS BIGINT)) AS z").head
    assert(viaSql.getLong(0) == 216L)
  }

  test("/0 matches everything; /32 matches only itself") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cidr_match('8.8.8.8', '0.0.0.0/0') AS all_v4,
        |       cidr_match('1.2.3.4', '1.2.3.4/32') AS self,
        |       cidr_match('1.2.3.5', '1.2.3.4/32') AS nbr""".stripMargin).head()
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2))
  }

  test("shingle_overlap and dup_fraction: hand-computed values, codegen and interpreted") {
    import graft.expressions.TextExpressions
    val texts = Seq((1, "The cat sat on the mat the cat"), (2, "  a b a b a  "),
      (3, ""), (4, null), (5, "x"), (6, "Dog dog DOG")).toDF("id", "text")
      // a Project over a LocalRelation would be folded on the driver
      .repartition(1)
    val set = new java.util.HashSet[String](
      java.util.Arrays.asList("the cat", "cat sat", "a b", "dog dog", "on"))
    def run(s: java.util.HashSet[String]) = texts.select(col("id"),
        TextExpressions.shingleOverlap(col("text"), 2, spark.sparkContext.broadcast(s)),
        TextExpressions.dupFraction(TextExpressions.wordShingles(col("text"), 1)))
      .collect().sortBy(_.getInt(0)).map(r =>
        (Option(r.get(1)), Option(r.get(2)))).toSeq
    // distinct 2-grams in the set (a 1-gram entry never matches);
    // repeated words / words (0 without words)
    val want = Seq((Some(2L), Some(3.0 / 8)), (Some(1L), Some(3.0 / 5)),
      (Some(0L), Some(0.0)), (None, None), (Some(0L), Some(0.0)),
      (Some(1L), Some(2.0 / 3)))
    assert(run(set) == want)
    assert(run(new java.util.HashSet[String]).map(_._1) ==
      want.map(_._1.map(_ => 0L)))
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run(set) == want)
    finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("bpe_encode: greedy lowest-rank merges, round-trip, no merges = chars") {
    import spark.implicits._
    import graft.expressions.TextExpressions
    val merges = Seq("a a", "a b", "aa ab")
    val out = Seq("aaab aab", "Ba", "").toDF("text")
      .select(TextExpressions.bpeEncode(col("text"), merges).as("s"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    // aaab: aa+ab then the rank-2 merge -> aaab; aab: aa,b ("aa b" unlearned)
    assert(out(0) == Seq("aaab", "aa", "b"))
    assert(out(1) == Seq("b", "a")) // lower-cased, no merge applies
    assert(out(2) == Seq.empty)
    // round-trip: concatenating subwords restores the lower-cased words
    val docs = Seq("The Quick brown fox", "ab aab aaab abba").toDF("text")
    val rt = docs.select(
        concat_ws("", TextExpressions.bpeEncode(col("text"), merges)).as("joined"),
        concat_ws("", graft.functions.TextFunctions.tokens(col("text"))).as("ref"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rt.forall { case (a, b) => a == b })
    // more merges never increases the subword count
    val n1 = docs.select(size(TextExpressions.bpeEncode(col("text"),
      merges.take(1))).as("n")).collect().map(_.getInt(0)).toSeq
    val n3 = docs.select(size(TextExpressions.bpeEncode(col("text"),
      merges)).as("n")).collect().map(_.getInt(0)).toSeq
    assert(n1.zip(n3).forall { case (a, b) => b <= a })
  }

  test("unicode_normalize: forms, identity fast path, SQL registration") {
    import spark.implicits._
    import graft.expressions.TextExpressions
    val decomposed = "Café" // e + COMBINING ACUTE
    val composed = "Café"
    val angstrom = "Å"       // NFC singleton -> U+00C5
    val fullwidth = "ＡＢ" // NFKC folds to AB; NFC keeps
    val rows = Seq(decomposed, composed, angstrom, fullwidth, "plain")
      .toDF("text")
    val nfc = rows.select(
      TextExpressions.unicodeNormalize(col("text"), "NFC").as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(nfc == Seq(composed, composed, "Å", fullwidth, "plain"))
    val nfkc = rows.select(
      TextExpressions.unicodeNormalize(col("text"), "NFKC").as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(nfkc == Seq(composed, composed, "Å", "AB", "plain"))
    // idempotence: normalizing a normalized value is identity
    assert(rows.select(TextExpressions.unicodeNormalize(
        TextExpressions.unicodeNormalize(col("text"), "NFC"), "NFC").as("n"))
      .collect().map(_.getString(0)).toSeq == nfc)
    // SQL face, default form NFC + explicit form
    graft.expressions.GraftFunctions.register(spark)
    rows.createOrReplaceTempView("unorm_t")
    val viaSql = spark.sql(
      "SELECT unicode_normalize(text), unicode_normalize(text, 'NFKC') FROM unorm_t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaSql.map(_._1) == nfc && viaSql.map(_._2) == nfkc)
    // unknown form is an analysis-time error, not a runtime surprise
    intercept[Exception] {
      spark.sql("SELECT unicode_normalize(text, 'NFX') FROM unorm_t").collect()
    }
    // astral plane survives the UTF8String round-trip: U+1D400
    // MATHEMATICAL BOLD A is NFC-stable but NFKC-folds to plain A
    val bold = new String(Character.toChars(0x1D400))
    val astral = Seq(bold + "x").toDF("text")
    assert(astral.select(TextExpressions.unicodeNormalize(col("text"), "NFC"))
      .collect().head.getString(0) == bold + "x")
    assert(astral.select(TextExpressions.unicodeNormalize(col("text"), "NFKC"))
      .collect().head.getString(0) == "Ax")
  }

  test("bpeTrain learns the hand-computed merge sequence") {
    import spark.implicits._
    // counts: aaab x2, aab x1 -> "a a" 5; then "a b" ties "aa a" at 2 and
    // wins on pair order; then "aa ab" 2; next best "aa b" = 1 < min -> stop
    val docs = Seq("aaab aaab aab").toDF("text")
    val merges = graft.pipeline.TextPipeline.bpeTrain(docs, numMerges = 10,
      minPairCount = 2L)
    assert(merges == Seq(("a a", 5L), ("a b", 2L), ("aa ab", 2L)))
  }

  test("nearest_centroid: argmax rounded cosine, lowest-cid ties, null semantics") {
    import spark.implicits._
    import graft.expressions.VectorExpressions
    val cents = Seq(
      (7L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (9L, Seq(0.0, 1.0, 0.0, 0.0))) // duplicate of cid 3: tie fodder
    val rows = Seq(
      (1L, Seq(2.0, 0.0, 0.0, 0.0)),   // scaled copy of cid 7 -> csim 1.0
      (2L, Seq(0.0, 5.0, 0.0, 0.0)),   // ties cids 3 and 9 -> lowest (3)
      (3L, Seq(0.0, 0.0, 0.0, 0.0)),   // zero vector: cosine 0 everywhere -> lowest cid
      (4L, Seq(1.0, 1.0, 0.0, 0.0)))   // equal 45-degree tie across all -> lowest cid
    val out = rows.toDF("vec_id", "vec")
      .select(col("vec_id"),
        VectorExpressions.nearestCentroid(col("vec"), cents).as("w"))
      .select(col("vec_id"), col("w.cid"), col("w.csim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 7L, 1.0), (2L, 3L, 1.0), (3L, 3L, 0.0),
      (4L, 3L, 0.707107)))
    // length mismatch with EVERY centroid -> lowest cid, NULL csim (the
    // crossJoin fallback's max_by-over-null-ordering semantics)
    val bad = Seq((9L, Seq(1.0, 2.0))).toDF("vec_id", "vec")
      .select(VectorExpressions.nearestCentroid(col("vec"), cents).as("w"))
      .select(col("w.cid"), col("w.csim")).collect()
    assert(bad.head.getLong(0) == 3L && bad.head.isNullAt(1))
    // interpreted eval agrees with codegen (factory disabled via conf)
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = rows.toDF("vec_id", "vec")
        .select(col("vec_id"),
          VectorExpressions.nearestCentroid(col("vec"), cents).as("w"))
        .select(col("vec_id"), col("w.cid"), col("w.csim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(interp == out)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("pq_nearest_codes: per-subspace argmin, lowest-code ties, subSlice split") {
    import spark.implicits._
    import graft.expressions.VectorExpressions
    // m=2 over dim 5: w=2, sub 0 = [0,2), sub 1 = [2,5) (last absorbs)
    val perSub = Seq(
      Seq((0, Seq(0.0, 0.0)), (1, Seq(1.0, 1.0))),
      Seq((0, Seq(0.0, 0.0, 0.0)), (1, Seq(2.0, 2.0, 2.0))))
    val out = Seq(
      (1L, Seq(0.9, 0.9, 2.0, 2.0, 2.0)),  // sub0 nearer code 1; sub1 nearer code 1
      (2L, Seq(0.0, 0.1, 0.1, 0.0, 0.0)),  // sub0 code 0; sub1 code 0
      (3L, Seq(0.5, 0.5, 1.0, 1.0, 1.0)))  // sub0 EXACT tie -> code 0; sub1 tie -> 0
    .toDF("vec_id", "vec")
      .select(col("vec_id"),
        VectorExpressions.pqNearestCodes(col("vec"), 2, perSub).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toSeq
    assert(out == Seq((1L, Seq(1, 1)), (2L, Seq(0, 0)), (3L, Seq(0, 0))))
    // wrong dimensionality (no valid candidate in some subspace) -> null
    val bad = Seq((9L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "vec")
      .select(VectorExpressions.pqNearestCodes(col("vec"), 2, perSub).as("c"))
      .collect()
    assert(bad.head.isNullAt(0))
  }

  test("levenshtein_banded: Spark-threshold contract on ASCII/non-ASCII/edges, both eval modes") {
    import spark.implicits._
    // pair inventory spanning the contract's regions: equal, within-k,
    // exactly-k, k+1, length-gated, empty sides, non-ASCII fallback
    // (é/中 — byte-level would overcount, the fallback must kick in),
    // and substitution-vs-indel mixes that exercise the band edges
    val pairs = Seq(
      ("", ""), ("", "abc"), ("abc", ""),
      ("kitten", "sitting"), ("sunday", "saturday"),
      ("abcdefgh", "abcdefgh"), ("abcdefgh", "xbcdefgh"),
      ("abcdefgh", "abcdxfgh"), ("abcdefgh", "hgfedcba"),
      ("aaaaaaaaaa", "bbbbbbbbbb"), ("abc", "abcdefghijklm"),
      ("the quick brown fox", "the quick brown cat"),
      ("café touché", "cafe touche"),
      ("中文文档", "中文档"),
      ("naïve", "naive"),
      ("abcde" * 40, "abcde" * 40 + "xy"),
      ("abcde" * 40, "edcba" * 40))
    val df = pairs.toDF("a", "b")
    for (k <- Seq(0, 1, 2, 3, 10)) {
      // reference: Spark's own unbounded levenshtein, thresholded
      val expected = df.select(
          when(levenshtein(col("a"), col("b")) <= k,
            levenshtein(col("a"), col("b"))).otherwise(-1).as("d"))
        .collect().map(_.getInt(0)).toSeq
      val native = df.select(
          graft.expressions.TextExpressions
            .levenshteinBanded(col("a"), col("b"), k).as("d"))
        .collect().map(_.getInt(0)).toSeq
      assert(native == expected, s"k=$k codegen")
      // Spark's own threshold form must agree too (contract witness)
      val sparkBanded = df.select(
          levenshtein(col("a"), col("b"), k).as("d"))
        .collect().map(_.getInt(0)).toSeq
      assert(sparkBanded == expected, s"k=$k spark-threshold witness")
      // interpreted eval agrees with codegen
      val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try {
        val interp = df.select(
            graft.expressions.TextExpressions
              .levenshteinBanded(col("a"), col("b"), k).as("d"))
          .collect().map(_.getInt(0)).toSeq
        assert(interp == expected, s"k=$k interpreted")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    // exhaustive small-string sweep: every pair over a 3-letter alphabet
    // up to length 4, k in 0..3 — the band's boundary arithmetic has no
    // hiding room at these sizes
    val alpha = Seq("a", "b", "c")
    def strs(n: Int): Seq[String] =
      if (n == 0) Seq("") else strs(n - 1).flatMap(s => alpha.map(s + _))
    val all = (0 to 4).flatMap(strs)
    val sweep = (for (x <- all; y <- all) yield (x, y))
    val sweepDf = sweep.toDF("a", "b")
    for (k <- 0 to 3) {
      val exp = sweepDf.select(
          when(levenshtein(col("a"), col("b")) <= k,
            levenshtein(col("a"), col("b"))).otherwise(-1).as("d"))
        .collect().map(_.getInt(0)).toSeq
      val got = sweepDf.select(
          graft.expressions.TextExpressions
            .levenshteinBanded(col("a"), col("b"), k).as("d"))
        .collect().map(_.getInt(0)).toSeq
      assert(got == exp, s"exhaustive sweep k=$k")
    }
  }
}
