package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.analytics.HostStats
import graft.expressions.Ipv4Util
import graft.functions.TextFunctions
import org.apache.spark.unsafe.types.UTF8String

/** Property tests (SURVEY.md §5): reduce-order invariance of the
  * aggregations (the reference's A10/A11 are order-dependent — ours must
  * not be), portability of the 47-bit fingerprint hash, and native-parse
  * equivalence against the JDK.
  */
class PropertySpec extends SparkSpec {

  /** Draw n samples from a generator (scalatestplus bridge isn't on the
    * offline classpath, so sampling is explicit). */
  private def forAll[T](g: Gen[T], n: Int)(f: T => Unit): Unit =
    Iterator.continually(g.sample).flatten.take(n).foreach(f)

  private val ipGen: Gen[String] = for {
    a <- Gen.choose(0, 255); b <- Gen.choose(0, 255)
    c <- Gen.choose(0, 255); d <- Gen.choose(0, 255)
  } yield s"$a.$b.$c.$d"

  test("property: editDistancePairs prunes are recall-safe under random edits incl. space splits/merges") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val rnd = new scala.util.Random(4242)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lumen", "omega")
    def doc(): String =
      Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
    // random character edits, deliberately including the word-boundary
    // cases the count bound's n+1 argument covers: substitution, char
    // insert/delete, SPACE insert (splits a word), SPACE delete (merges)
    def edit(s: String): String = {
      val i = rnd.nextInt(s.length)
      rnd.nextInt(5) match {
        case 0 => s.updated(i, ('a' + rnd.nextInt(26)).toChar)
        case 1 => s.substring(0, i) + ('a' + rnd.nextInt(26)).toChar + s.substring(i)
        case 2 if s.length > 1 => s.substring(0, i) + s.substring(math.min(i + 1, s.length))
        case 3 => s.substring(0, i) + " " + s.substring(i)
        case _ =>
          val sp = s.indexOf(' ')
          if (sp < 0) s else s.substring(0, sp) + s.substring(sp + 1)
      }
    }
    val maxDist = 4
    for (trial <- 1 to 3) {
      val bases = Seq.fill(12)(doc())
      val docs = bases.zipWithIndex.flatMap { case (b, i) =>
        val v = Iterator.iterate(b)(edit).drop(1 + rnd.nextInt(maxDist)).next()
        Seq((i * 2L, b), (i * 2L + 1L, v))
      }.toDF("doc_id", "text")
      // reference: the same blocking WITHOUT the count/length prunes is
      // candidates >= 1 shared shingle + confirm — rebuild it inline
      def pairs(df: org.apache.spark.sql.DataFrame, maxDf: Long) = {
        val r = TextPipeline.editDistancePairsCached(df, maxDist, n = 2, maxDf)
        val out = r.result.collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
        r.unpersist(); out
      }
      val inv = docs.select(col("doc_id"), col("text"),
        explode(graft.expressions.TextExpressions
          .wordShingles(col("text"), 2, distinct = true)).as("sh"))
      val unpruned = inv.as("a").join(inv.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.text").as("ta"), col("b.text").as("tb")).distinct()
        .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
        .filter(col("dist") <= maxDist)
        .select("doc_a", "doc_b", "dist").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(unpruned.nonEmpty, s"trial $trial vacuous")
      assert(pairs(docs, maxDf = 0L) == unpruned,
        s"trial $trial: prunes dropped true pairs (uncapped)")
      // and with a df cap: the operator must still find every pair the
      // capped blocking can see (subset check against its own blocking
      // is exactly the pruned==unpruned equality above; with the cap the
      // bound must hold against CAPPED sizes)
      assert(pairs(docs, maxDf = 6L).subsetOf(unpruned),
        s"trial $trial: capped run invented pairs")
    }
  }

  test("property: canonicalizeUrl is idempotent on random generated URLs") {
    import spark.implicits._
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS", "ftp")
      sub <- Gen.oneOf("", "www.", "WWW.", "cdn.", "a.b.")
      host <- Gen.oneOf("site1.com", "Site2.ORG", "x.co.uk", "h.net")
      port <- Gen.oneOf("", ":80", ":443", ":8080", ":65000")
      path <- Gen.oneOf("", "/", "/a", "/a/", "/A/B/", "/p%20q", "//x")
      qs <- Gen.oneOf("", "?a=1", "?utm_source=x", "?a=1&utm_x=2&b=3",
        "?fbclid=z", "?ref=1&REF=2", "?a=&=b&&c=1")
      frag <- Gen.oneOf("", "#f", "#a?b=1")
    } yield s"$scheme://$sub$host$port$path$qs$frag"
    val urls = Iterator.continually(urlGen.sample).flatten.take(300).toSeq
    val out = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(col("id"),
        graft.pipeline.UrlCuration.canonicalizeUrl(col("url")).as("c1"))
      .select(col("id"), col("c1"),
        graft.pipeline.UrlCuration.canonicalizeUrl(col("c1")).as("c2"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) != null, s"row ${r.getLong(0)} canon null")
      assert(r.getString(1) == r.getString(2),
        s"not idempotent: '${urls(r.getLong(0).toInt)}' -> " +
          s"'${r.getString(1)}' -> '${r.getString(2)}'")
    }
  }

  test("property: Ipv4Util.parse agrees with the JDK on all well-formed IPs") {
    forAll(ipGen, 200) { ip =>
      val jdk = java.net.InetAddress.getByName(ip).getAddress
        .foldLeft(0L)((acc, b) => acc * 256 + (b & 0xFF))
      assert(Ipv4Util.parse(UTF8String.fromString(ip)) == jdk)
    }
  }

  test("property: native z_key matches the scalar reference on random values") {
    import graft.expressions.LayoutExpressions
    import spark.implicits._
    def ref(xs: Seq[Long], bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, b) =>
        xs.zipWithIndex.foldLeft(acc) { case (a, (x, i)) =>
          a | (((x >> b) & 1L) << (b * xs.size + i))
        }
      }
    val gen = for {
      n <- Gen.choose(1, 4)
      bits <- Gen.choose(1, 63 / n)
      xs <- Gen.listOfN(n, Gen.choose(0L, (1L << bits) - 1))
    } yield (bits, xs)
    forAll(gen, 40) { case (bits, xs) =>
      val got = Seq(Tuple1(0))
        .toDF("dummy")
        .select(LayoutExpressions.zKey(xs.map(lit(_)).map(_.cast("long")), bits))
        .head.getLong(0)
      assert(got == ref(xs, bits), s"bits=$bits xs=$xs")
    }
  }

  test("property: zorder preserves random multisets; Ids.assign is a permutation") {
    import spark.implicits._
    val gen = Gen.listOfN(300,
      Gen.zip(Gen.choose(-1000L, 1000L), Gen.choose(-5L, 5L)))
    forAll(gen, 5) { rows =>
      val df = rows.toDF("x", "y")
      val z = graft.scale.Layout.zorder(df, Seq("x", "y"),
        partitions = 4, bits = 8)
      assert(z.exceptAll(df).isEmpty && df.exceptAll(z).isEmpty)
      // unique-key id assignment is a 0..N-1 permutation in key order
      val keyed = rows.zipWithIndex
        .map { case ((x, y), i) => (x * 10000 + i, y) }.toDF("k", "y")
      val ids = graft.scale.Ids.assign(keyed, Seq("k"), partitions = 4)
        .orderBy("row_id").select("k", "row_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(ids.map(_._2).toSeq == (0L until rows.size.toLong))
      assert(ids.map(_._1).toSeq == ids.map(_._1).sorted.toSeq)
    }
  }

  test("property: prefixSum equals the single-partition window oracle") {
    import spark.implicits._
    val gen = Gen.listOfN(200, Gen.choose(0L, 50L))
    forAll(gen, 5) { weights =>
      val rows = weights.zipWithIndex.map { case (w, i) =>
        // scrambled unique key so bucket boundaries cut mid-stream
        ((i * 2654435761L) % 100000L, w)
      }
      val df = rows.toDF("k", "w")
      val (got, total) = graft.scale.Ids.prefixSumWithTotal(
        df, Seq("k"), col("w"), "off", partitions = 4)
      val expect = rows.sortBy(_._1)
        .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (k, w)) => (k, w, acc + w) }
        .drop(1).map { case (k, w, cum) => (k, cum - w) }.toMap
      val gotMap = got.select("k", "off").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(gotMap == expect)
      assert(total == weights.sum)
    }
  }

  test("property: sourceOverlap equals the brute-force gram-set reference") {
    import spark.implicits._
    val word = Gen.oneOf("red", "blue", "green", "ox", "ant", "elk", "fox")
    val text = Gen.choose(3, 9).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(6, 14).flatMap(n =>
      Gen.listOfN(n, Gen.zip(text, Gen.oneOf("sA", "sB", "sC"))))
    forAll(corpus, 4) { rows =>
      val docs = rows.zipWithIndex
        .map { case ((t, src), i) => (i.toLong, t, src) }
        .toDF("doc_id", "text", "source")
      val got = rowsOf(graft.pipeline.Curation.sourceOverlap(docs, n = 2))
        .map(r => (r("source_a"), r("source_b")) ->
          ((r("shared_grams"), r("jaccard")))).toMap
      // reference: per-source distinct word-bigram sets, pairwise
      def grams(t: String): Set[Seq[String]] =
        t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
          .sliding(2).filter(_.length == 2).map(_.toSeq).toSet
      val bySrc = rows.groupBy(_._2).view
        .mapValues(_.flatMap(r => grams(r._1)).toSet).toMap
      val expect = (for {
        a <- bySrc.keys; b <- bySrc.keys if a < b
        shared = (bySrc(a) & bySrc(b)).size if shared > 0
      } yield {
        val j = shared.toDouble / (bySrc(a) ++ bySrc(b)).size
        (a, b) -> ((shared.toLong,
          BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }).toMap
      assert(got == expect, s"got $got expect $expect rows=$rows")
    }
  }

  test("property: bpeTrain matches RefBpe twin on random corpora") {
    import spark.implicits._
    val word = Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val text = Gen.choose(3, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, text))
    forAll(corpus, 4) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (b <- Seq(1, 4)) {
        val got = graft.pipeline.TextPipeline.bpeTrain(
          d, numMerges = 8, batchSize = b)
        val ref = RefBpe.trainBatched(texts, numMerges = 8, batchSize = b)
        assert(got == ref, s"batchSize=$b corpus=$texts")
      }
    }
  }

  test("property: HostStats is invariant under input row order") {
    val rows = (0 until 40).map { i =>
      Fx(flow_id = i, src_ip4 = s"10.0.0.${i % 5}", dst_ip = s"192.0.2.${i % 7}",
        dst_port = 1000 + i % 11, packets = 1 + i % 13, bytes = 100L * (1 + i % 17),
        tcp_flags = i % 64, start_ms = 1502900000000L + i * 1000,
        end_ms = 1502900001000L + i * 1500)
    }
    val base = rowsOf(HostStats(Fx.df(spark, rows: _*)).orderBy("src_ip"))
    forAll(Gen.choose(1L, Long.MaxValue), 10) { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val out = rowsOf(HostStats(Fx.df(spark, shuffled: _*)).orderBy("src_ip"))
      assert(out == base)
    }
  }

  test("property: fingerprint Column impl == Scala reference impl") {
    val strGen = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString.take(50))
    forAll(strGen, 30) { s =>
      val mod = 140737488355213L
      val expected = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % mod)
      import spark.implicits._
      val got = Seq(s).toDF("s")
        .select(TextFunctions.fingerprint(col("s"))).head().getLong(0)
      assert(got == expected, s"fingerprint mismatch for '$s'")
    }
  }

  test("property: shingles are exactly the sliding n-grams of the tokens") {
    import spark.implicits._
    val textGen = Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "e"))
      .map(_.mkString(" "))
    forAll(Gen.zip(textGen, Gen.choose(1, 4)), 30) { case (text, n) =>
      val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val expected = if (toks.size < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val got = Seq(text).toDF("text")
        .select(TextFunctions.wordShingles(col("text"), n))
        .head().getSeq[String](0)
      assert(got == expected, s"n=$n text='$text'")
    }
  }

  test("property: chunk with stride == chunkSize partitions the token stream exactly") {
    import spark.implicits._
    import graft.pipeline.Curation
    val docGen = Gen.zip(Gen.choose(1, 40), Gen.choose(1, 8))
    forAll(docGen, 15) { case (nToks, size) =>
      val toks = (1 to nToks).map(i => s"t$i")
      val chunks = rowsOf(Curation.chunk(
        Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"), size, size))
        .sortBy(_("chunk_id").asInstanceOf[Int])
      // non-overlapping windows reassemble the document exactly
      assert(chunks.map(_("chunk_text")).mkString(" ") == toks.mkString(" "),
        s"n=$nToks size=$size")
      assert(chunks.map(_("n_chunk_tokens").asInstanceOf[Int]).sum == nToks)
      // every chunk except possibly the last is full
      assert(chunks.init.forall(_("n_chunk_tokens") == size))
    }
  }

  test("property: redact is idempotent — placeholders contain nothing redactable") {
    import spark.implicits._
    import graft.pipeline.Curation
    val piiGen = Gen.oneOf(
      Gen.choose(0, 999).map(i => s"word$i a.b$i@ex$i.org tail"),
      Gen.choose(0, 999).map(i => s"ip 10.$i.0.1 and num 123456$i"),
      Gen.alphaStr.map(s => s"clean $s"))
    forAll(piiGen, 20) { text =>
      val once = rowsOf(Curation.redact(Seq((1L, text)).toDF("doc_id", "text")))
        .head("text_redacted").asInstanceOf[String]
      val twice = rowsOf(Curation.redact(Seq((1L, once)).toDF("doc_id", "text")))
        .head("text_redacted").asInstanceOf[String]
      assert(twice == once, s"not idempotent for '$text'")
    }
  }

  test("property: connectedComponents is a fixpoint and respects every edge") {
    import spark.implicits._
    import graft.pipeline.Curation
    val edgeGen = Gen.listOfN(8,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)).suchThat(p => p._1 != p._2))
    forAll(edgeGen, 8) { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val comp = rowsOf(Curation.connectedComponentsStar(pairs, requireConvergence = true))
        .map(r => r("id").asInstanceOf[Long] -> r("component").asInstanceOf[Long])
        .toMap
      // both endpoints of every edge share a component
      assert(edges.forall { case (a, b) => comp(a) == comp(b) })
      // each component is labelled by its own minimum member
      comp.groupBy(_._2).foreach { case (label, members) =>
        assert(members.keys.min == label)
      }
    }
  }

  test("property: connectedComponentsStar equals a union-find on random graphs") {
    import spark.implicits._
    import graft.pipeline.Curation
    val edgeGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)).suchThat(p => p._1 != p._2))
    forAll(edgeGen, 8) { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val star = rowsOf(
          Curation.connectedComponentsStar(pairs, requireConvergence = true))
        .map(r => r("id").asInstanceOf[Long] -> r("component").asInstanceOf[Long])
        .toMap
      assert(star == RefComponents(edges), s"edges=$edges")
    }
  }

  test("property: incremental ingest over any batch split equals batch candidates") {
    import spark.implicits._
    import graft.pipeline.{IncrementalDedup, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = (0L until 24L).map { i =>
      val text = if (i % 4 == 0) base
      else if (i % 4 == 1) base.replace("theta", s"mut$i")
      else s"unique words only document number $i filler ${i * 31}"
      (i, text)
    }
    val batch = TextPipeline.minhashCandidates(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // random split points into 1..4 batches; ingest order = corpus order
    val cutsGen = Gen.listOfN(3, Gen.choose(0, 24)).map(_.distinct.sorted)
    forAll(cutsGen, 5) { cuts =>
      val dir = java.nio.file.Files.createTempDirectory("inc_prop").toString
      val bounds = (0 +: cuts :+ 24).distinct.sorted
      val got = bounds.zip(bounds.tail).flatMap { case (lo, hi) =>
        IncrementalDedup.ingest(dir,
          corpus.slice(lo, hi).toDF("doc_id", "text"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(got.size == got.toSet.size, s"re-emission for cuts=$cuts")
      assert(got.toSet == batch, s"cuts=$cuts")
    }
  }

  test("property: native winnow_fp == window reference on random corpora") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val gen = for {
      texts <- Gen.listOfN(6, docGen)
      k <- Gen.choose(1, 4); w <- Gen.choose(1, 5)
    } yield (texts, k, w)
    forAll(gen, 8) { case (texts, k, w) =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = TextPipeline.winnowFingerprintsNative(d, k, w)
      val ref = RefWinnow.winnowFingerprints(d, k, w)
      assert(native.exceptAll(ref).count() == 0
        && ref.exceptAll(native).count() == 0, s"k=$k w=$w texts=$texts")
    }
  }

  test("property: winnowing guarantee — shared (w+k-1)-token runs share a fingerprint") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val (k, w) = (3, 4)
    val runVocab = Seq("r1", "r2", "r3", "r4", "r5", "r6")
    val padVocabA = Seq("x1", "x2", "x3")
    val padVocabB = Seq("y1", "y2", "y3")
    val gen = for {
      run <- Gen.listOfN(w + k - 1, Gen.oneOf(runVocab))
      pa <- Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(padVocabA)))
      pb <- Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(padVocabB)))
    } yield (run, pa, pb)
    forAll(gen, 8) { case (run, pa, pb) =>
      val d = Seq(
        1L -> (pa ++ run ++ pa).mkString(" "),
        2L -> (pb ++ run ++ pb).mkString(" ")).toDF("doc_id", "text")
      val byDoc = TextPipeline.winnowFingerprintsNative(d, k, w).collect()
        .groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
      assert((byDoc(1L) & byDoc(2L)).nonEmpty,
        s"run=$run pa=$pa pb=$pb must share a fingerprint")
    }
  }

  test("property: kmeansLloyd cost is non-increasing in iterations") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val vecGen = Gen.listOfN(2, Gen.choose(-50, 50).map(_ / 10.0))
    val gen = Gen.listOfN(12, vecGen)
    forAll(gen, 4) { vs =>
      val d = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val cost = (t: Int) => Similarity.kmeansLloyd(d, k = 3, iters = t)
        .agg(sum("dist")).collect().head.getDouble(0)
      val (c0, c1, c2) = (cost(0), cost(1), cost(2))
      // 6-dp centroid rounding can perturb by ~1e-5 per point — allow it
      assert(c1 <= c0 + 1e-3, s"iter1 cost rose: $c0 -> $c1 vs=$vs")
      assert(c2 <= c1 + 1e-3, s"iter2 cost rose: $c1 -> $c2 vs=$vs")
    }
  }

  test("property: corpusDiff exactly reconstructs the new snapshot from the old") {
    import spark.implicits._
    import graft.pipeline.Curation
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.choose(1L, 25L)).map(_.distinct),
      Gen.listOfN(40, Gen.choose(1L, 25L)).map(_.distinct),
      Gen.choose(1, 6)) // every m-th shared doc mutates
    forAll(gen, 8) { case (pIds, cIds, m) =>
      def row(i: Long, v: Int) = (i, s"doc $i version $v", "s")
      val prevRows = pIds.map(row(_, 0))
      val curRows = cIds.map(i => row(i, if (i % m == 0) 1 else 0))
      val diff = Curation.corpusDiff(
          prevRows.toDF("doc_id", "text", "source"),
          curRows.toDF("doc_id", "text", "source"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val (pSet, cSet) = (pIds.toSet, cIds.toSet)
      // statuses equal ground truth
      assert(diff.filter(_._2 == "removed").keySet == (pSet -- cSet))
      assert(diff.filter(_._2 == "added").keySet == (cSet -- pSet))
      assert(diff.filter(_._2 == "changed").keySet ==
        (pSet & cSet).filter(_ % m == 0))
      // applying the diff to the old snapshot reproduces the new one:
      // keep unchanged prev rows, take added+changed rows from cur
      val take = diff.filter(v => v._2 != "removed").keySet
      val rebuilt = prevRows.filterNot(r => diff.contains(r._1)) ++
        curRows.filter(r => take(r._1))
      assert(rebuilt.toSet == curRows.toSet)
    }
  }

  test("property: streaming funnel resolve == batch step times on random streams") {
    import spark.implicits._
    import graft.queries.Funnel
    val steps = Seq("s0", "s1", "s2", "s3")
    // ties, duplicates, and out-of-order arrivals all included
    val gen = Gen.listOfN(60, Gen.zip(
      Gen.choose(1L, 6L), Gen.choose(0, 3), Gen.choose(1L, 20L)))
    forAll(gen, 8) { events =>
      val df = events.map { case (u, s, t) => (u, steps(s), t) }
        .toDF("user_id", "event_type", "ts_ms")
      val batch = Funnel.stepTimes(df, steps).collect().map(r =>
        r.getLong(0) -> steps.indices.map(i =>
          if (r.isNullAt(i + 1)) None else Some(r.getLong(i + 1)))).toMap
      val streamed = events.groupBy(_._1).map { case (u, es) =>
        u -> Funnel.resolve(es.map(e => (e._3, e._2)), steps.size)
      }
      streamed.foreach { case (u, times) =>
        assert(times == batch(u), s"user $u: fold $times vs batch ${batch(u)}")
      }
    }
  }

  test("property: shard manifest is invariant under input row order") {
    import spark.implicits._
    import graft.pipeline.Curation
    val rows = (1L to 60L).map(i =>
      (i, s"alpha w$i beta ${"x " * (i % 7).toInt}gamma", "s"))
    def manifest(rs: Seq[(Long, String, String)]) =
      Curation.shardManifest(rs.toDF("doc_id", "text", "source"), 5)
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val base = manifest(rows)
    forAll(Gen.choose(1L, Long.MaxValue), 6) { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      assert(manifest(shuffled) == base)
    }
  }
}
