package graft

import org.apache.spark.sql.functions._

class GraftAppSpec extends SparkSpec {

  private def flowJson(proto: Int, startMs: Long, packets: Int, bytes: Int) =
    s"""{"ipfix.sourceIPv4Address":"10.0.0.1","ipfix.destinationIPv4Address":"192.0.2.1","ipfix.protocolIdentifier":$proto,"ipfix.sourceTransportPort":40000,"ipfix.destinationTransportPort":80,"ipfix.packetDeltaCount":$packets,"ipfix.octetDeltaCount":$bytes,"ipfix.tcpControlBits":16,"ipfix.flowStartMilliseconds":$startMs,"ipfix.flowEndMilliseconds":${startMs + 500}}"""

  test("GraftApp end-to-end: wire-JSON replay -> protocol stats -> dated parquet") {
    val in = java.nio.file.Files.createTempDirectory("appin").toString
    val out = java.nio.file.Files.createTempDirectory("appout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("appckpt").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)

    // window [10s, 20s): 3 tcp flows
    write("b1.json",
      flowJson(6, 11000L, 2, 100),
      flowJson(6, 12000L, 3, 200),
      flowJson(6, 13000L, 5, 300))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "protocol_statistics", inputJson = Some(in),
      output = out, checkpoint = ckpt, window = "10 seconds"))
    try {
      q.processAllAvailable()
      // advance the watermark far past the first window so it closes
      write("b2.json", flowJson(17, 100000L, 1, 50))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .filter(col("protocol") === "tcp").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("flows") == 3L)
      assert(r.getAs[Long]("packets") == 10L)
      assert(r.getAs[Long]("bytes") == 600L)
      assert(r.getAs[String]("type") == "protocol_statistics")
      // dated partition column present (daily-index replacement)
      assert(spark.read.parquet(out).columns.contains("date"))
    } finally q.stop()
  }

  test("GraftApp --observe: per-batch in/out counters ride the stream") {
    val in = java.nio.file.Files.createTempDirectory("obsappin").toString
    val out = java.nio.file.Files.createTempDirectory("obsappout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("obsappckpt").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    write("b1.json",
      flowJson(6, 11000L, 2, 100),
      flowJson(6, 12000L, 3, 200))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "protocol_statistics", inputJson = Some(in),
      output = out, checkpoint = ckpt, window = "10 seconds",
      observe = true))
    try {
      q.processAllAvailable()
      write("b2.json", flowJson(17, 100000L, 1, 50)) // closes the window
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Seq("flows_in", "reports_out").flatMap(k =>
          Option(p.observedMetrics.get(k)).map(r =>
            k -> r.getAs[Long]("rows"))))
      // all 3 input flows counted on the way in, and the closed tcp
      // window's report counted on the way out — with zero extra jobs
      assert(metrics.filter(_._1 == "flows_in").map(_._2).sum == 3L, metrics)
      assert(metrics.filter(_._1 == "reports_out").map(_._2).sum >= 1L, metrics)
      // the stderr line carries the counters and the window state's
      // stores (one per shuffle partition) and commit time
      val lines = q.recentProgress.toSeq.flatMap(GraftApp.observeLine)
      assert(lines.exists(_.contains("flows_in=")), lines)
      val slots = spark.sparkContext.defaultParallelism
      assert(lines.exists(_.contains(s"state_stores=$slots ")), lines)
      assert(lines.forall(_.matches(".* state_commit_ms=\\d+$")), lines)
    } finally q.stop()
  }

  test("Graft.session: shuffle width is the task slots; a submitted master and width win") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    val none = new org.apache.spark.SparkConf(false)
    assert(graft.core.Graft.masterOf(none, "local[*]") == "local[*]")
    assert(graft.core.Graft.widthOf(none, 6) == 6)
    val submitted = new org.apache.spark.SparkConf(false)
      .set("spark.master", "spark://head:7077")
      .set("spark.sql.shuffle.partitions", "200")
    assert(graft.core.Graft.masterOf(submitted, "local[*]") == "spark://head:7077")
    assert(graft.core.Graft.widthOf(submitted, 6) == 200)
  }

  test("GraftApp host_stats: one state store per task slot; a restart keeps the checkpoint's width") {
    val slots = spark.sparkContext.defaultParallelism
    val batches = Seq(
      Seq(flowJson(6, 11000L, 2, 100), flowJson(17, 12000L, 3, 200)),
      Seq(flowJson(6, 16000L, 5, 300), flowJson(6, 22000L, 1, 40)),
      Seq(flowJson(17, 100000L, 1, 50))) // closes every earlier window
    // feed the batches one micro-batch each; `restartAfter` stops the
    // query after that many and resumes it from its checkpoint at width 8
    def run(restartAfter: Option[Int]): (Set[Seq[Any]], Seq[Int]) = {
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      val (in, out, ckpt) = (tmp("hsin"), tmp("hsout"), tmp("hsckpt"))
      val cfg = GraftApp.Config(analytic = "host_stats", inputJson = Some(in),
        output = out, checkpoint = ckpt, window = "10 seconds")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val stores = Seq.newBuilder[Int]
      var q = GraftApp.build(spark, cfg)
      try {
        batches.zipWithIndex.foreach { case (lines, i) =>
          if (restartAfter.contains(i)) {
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", 8L)
            q = GraftApp.build(spark, cfg)
          }
          java.nio.file.Files.write(java.nio.file.Paths.get(in, s"b$i.json"),
            lines.mkString("\n").getBytes)
          q.processAllAvailable()
          stores ++= q.recentProgress.toSeq.flatMap(_.stateOperators)
            .map(_.numStateStoreInstances.toInt)
        }
      } finally {
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      val rows = spark.read.parquet(out).drop("timestamp", "date")
      (rows.collect().map(_.toSeq).toSet, stores.result())
    }
    val (whole, wholeStores) = run(None)
    val (resumed, resumedStores) = run(Some(1))
    assert(whole.nonEmpty)
    assert(wholeStores.nonEmpty && wholeStores.forall(_ == slots), wholeStores)
    // the checkpoint froze the width at the first start
    assert(resumedStores.nonEmpty && resumedStores.forall(_ == slots), resumedStores)
    assert(resumed == whole)
  }

  test("CurateApp end-to-end: parquet corpus -> curated chunks parquet") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("curin").toString
    val bench = java.nio.file.Files.createTempDirectory("curbench").toString
    val out = java.nio.file.Files.createTempDirectory("curout").toString
    val clean = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, clean, "srcA"),
      (2L, clean + " lambda", "srcA"),               // near-dup of 1
      (3L, "spam spam spam spam spam spam", "srcA"), // repetitive
      (4L, "one two three four five six seven", "srcB"),
      (5L, "totally different benchmark overlap words here now", "srcA"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    Seq((99L, "benchmark overlap words", "eval"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(bench)

    val c = CurateApp.parse(Array(
      "--input", in, "--benchmark", bench, "--output", out,
      "--max-dup-word-frac", "0.4", "--chunk-size", "4", "--stride", "4",
      "--rates", "srcB=1000000"))
    assert(c.rates == Map("srcB" -> 1000000L))
    CurateApp.run(spark, c).write.mode("overwrite").parquet(out)
    val got = spark.read.parquet(out)
    assert(got.select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 4L))
    assert(got.filter(col("doc_id") === 1L).count() == 3) // 10 toks / 4-stride
    // no benchmark -> decontamination no-op: doc 5 comes back
    val noBench = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", in, "--max-dup-word-frac", "0.4")))
    assert(noBench.select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 4L, 5L))
    // --zorder is a pure layout pass: identical rows out
    val zc = CurateApp.parse(Array("--input", in,
      "--max-dup-word-frac", "0.4", "--zorder", "doc_id,chunk_id",
      "--zorder-bits", "8"))
    assert(zc.zorder == Seq("doc_id", "chunk_id") && zc.zorderBits == 8)
    val z = CurateApp.laidOut(spark, zc, noBench)
    assert(z.exceptAll(noBench).isEmpty && noBench.exceptAll(z).isEmpty)
    // --normalize NFC: composed and decomposed spellings of the SAME
    // text become byte-identical before dedup, so the pair collapses
    val inN = java.nio.file.Files.createTempDirectory("curnfc").toString
    Seq(
      (1L, "the café menu lists nine core dishes today", "srcA"),
      (2L, "the cafe\u0301 menu lists nine core dishes today", "srcA"), // decomposed twin
      (3L, "a wholly different document about other topics", "srcA"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(inN)
    val normed = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", inN, "--normalize", "NFC", "--max-dup-word-frac", "0.9")))
    assert(normed.select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 3L)) // 2 deduped against 1 only because NFC converged them
    val unnormed = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", inN, "--max-dup-word-frac", "0.9")))
    assert(unnormed.select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 3L)) // without the pass the twin survives dedup
    // --c4-min-words scrubs lines before the pipeline: noise lines are
    // gone from the surviving doc's chunks, all-noise docs drop whole
    val in2 = java.nio.file.Files.createTempDirectory("curc4").toString
    Seq(
      (1L, "Alpha beta gamma delta works fine here.\nbad noise", "srcA"),
      (2L, "short.", "srcA"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in2)
    val c4 = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", in2, "--max-dup-word-frac", "0.9", "--c4-min-words", "4",
      "--chunk-size", "16", "--stride", "16")))
    val chunks = c4.collect()
    assert(chunks.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    val texts = chunks.map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(!texts.contains("noise") && texts.contains("alpha"))
  }

  test("CurateApp --url-dedup: canonical-URL variants collapse before the text stages; URL-less rows survive") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("curlin").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon words", "sA",
        "http://h.com/page?utm_source=x"),
      (2L, "completely different text body here now", "sA",
        "HTTP://H.COM:80/page/"), // canonical twin of doc 1's URL
      (3L, "a third unrelated document entirely okay", "sA",
        "http://other.net/p"),
      (4L, "no url on this row at all but fine", "sA", null))
      .toDF("doc_id", "text", "source", "url")
      .write.mode("overwrite").parquet(in)
    val got = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", in, "--url-dedup", "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16")))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L)) // 2 dropped: same canonical URL as 1
    // without the flag the URL twin passes (different text, no near-dup)
    val off = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", in, "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16")))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(off == Set(1L, 2L, 3L, 4L))
  }

  test("CurateApp --quality-keep-frac: junk docs gated out before the pipeline") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("qgin").toString
    val ref = java.nio.file.Files.createTempDirectory("qgref").toString
    Seq( // shingle-disjoint permutations (same NLL, no near-dup pairs)
      (1L, "alpha beta gamma delta epsilon", "s"),
      (2L, "epsilon delta gamma beta alpha", "s"),
      (3L, "alpha gamma epsilon beta delta", "s"),
      (4L, "qq ww ee rr tt", "s")) // all-OOV junk
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    Seq((9L, "alpha beta gamma delta epsilon", "ref"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(ref)
    val out = CurateApp.run(spark, CurateApp.parse(Array(
      "--input", in, "--quality-keep-frac", "0.75",
      "--quality-reference", ref, "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16")))
    assert(out.select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 3L))
  }

  test("CurateApp --observe: write job reports exact output rows/chars, no extra pass") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("obsin").toString
    val outDir = java.nio.file.Files.createTempDirectory("obsout").toString + "/o"
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (2L, "one two three four five six seven eight nine ten", "s"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    val c = CurateApp.parse(Array(
      "--input", in, "--output", outDir, "--observe",
      "--chunk-size", "16", "--stride", "16", "--max-dup-word-frac", "0.9"))
    val frame = CurateApp.run(spark, c)
    val metrics = CurateApp.write(spark, c, frame)
    assert(metrics.isDefined)
    val written = spark.read.parquet(outDir)
    assert(metrics.get.getAs[Long]("rows") == written.count())
    val chars = written.agg(sum(length(col("chunk_text")))).head.getLong(0)
    assert(metrics.get.getAs[Long]("chars") == chars)
  }

  test("CurateApp --gate: constraints ride the write job; violation exits nonzero") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("gatein").toString
    val outDir = java.nio.file.Files.createTempDirectory("gateout").toString + "/o"
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (2L, "one two three four five six seven eight nine ten", "s"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    // passing gate, combined with --observe on the SAME write job
    val ok = CurateApp.parse(Array(
      "--input", in, "--output", outDir, "--observe",
      "--chunk-size", "16", "--stride", "16", "--max-dup-word-frac", "0.9",
      "--gate", "size:1;complete:chunk_text:0.99;unique:doc_id,chunk_id:0.9"))
    val frame = CurateApp.run(spark, ok)
    val metrics = CurateApp.write(spark, ok, frame)
    assert(metrics.isDefined &&
      metrics.get.getAs[Long]("rows") == spark.read.parquet(outDir).count())
    // violated gate: output written but the run throws (rc != 0)
    val bad = ok.copy(gate = Seq("size:100000", "mean:chunk_id:0.0:1000.0"),
      observe = false)
    val e = intercept[IllegalStateException] {
      CurateApp.write(spark, bad, CurateApp.run(spark, bad))
    }
    assert(e.getMessage.contains("1 constraint(s) violated"))
    assert(spark.read.parquet(outDir).count() > 0) // exists, uncertified
    // unknown constraint named in the error
    val pe = intercept[IllegalArgumentException] {
      CurateApp.parseGate(Seq("median:x:1"))
    }
    assert(pe.getMessage.contains("median:x:1"))
  }

  test("CurateApp --diff-prev: delta-only curation + retired-id sink") {
    import spark.implicits._
    val prevDir = java.nio.file.Files.createTempDirectory("dprev").toString
    val curDir = java.nio.file.Files.createTempDirectory("dcur").toString
    val retDir = java.nio.file.Files.createTempDirectory("dret").toString + "/r"
    val outDir = java.nio.file.Files.createTempDirectory("dout").toString + "/o"
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    Seq((1L, same, "s"), (2L, "old text version here now", "s"),
        (3L, "retired document text body", "s"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(prevDir)
    Seq((1L, same, "s"), // unchanged -> NOT recurated
        (2L, "one two three four five six seven eight", "s"), // changed
        (4L, "nine ten eleven twelve thirteen fourteen", "s")) // added
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(curDir)
    val c = CurateApp.parse(Array(
      "--input", curDir, "--output", outDir,
      "--diff-prev", prevDir, "--retired", retDir,
      "--chunk-size", "16", "--stride", "16", "--max-dup-word-frac", "0.9"))
    val out = CurateApp.run(spark, c)
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(2L, 4L))
    assert(spark.read.parquet(retDir).collect()
      .map(_.getLong(0)).toSet == Set(3L))
  }

  test("CurateApp --audit: flag parses and the composed pipeline plan is clean") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("auditin").toString
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta", "s"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    val c = CurateApp.parse(Array("--input", in, "--audit",
      "--chunk-size", "16", "--stride", "16", "--max-dup-word-frac", "0.9"))
    assert(c.audit)
    val frame = CurateApp.laidOut(spark, c, CurateApp.run(spark, c))
    assert(graft.tools.PlanAudit.audit(frame).isEmpty)
  }

  test("CurateApp --keep-longest and --temperature: keep rule + derived rates") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("klin").toString
    val clean = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, clean, "srcA"),
      (2L, clean + " lambda", "srcA"), // near-dup of 1, LONGER
      (4L, "one two three four five six seven", "srcB"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    // default keep rule keeps min id (1); --keep-longest keeps 2
    val cfg = CurateApp.parse(Array(
      "--input", in, "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16", "--keep-longest"))
    assert(cfg.keepLongest)
    val kept = CurateApp.run(spark, cfg)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    // temperature-derived rates: T=1 natural sampling keeps every
    // source at the same fraction; a full-corpus budget keeps all docs
    val tc = CurateApp.parse(Array(
      "--input", in, "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16",
      "--temperature", "1.0", "--token-budget", "100"))
    val tKept = CurateApp.run(spark, tc)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(tKept.subsetOf(Set(1L, 2L, 4L)) && tKept.nonEmpty)
    // --rates and --temperature are mutually exclusive
    intercept[IllegalArgumentException] {
      CurateApp.run(spark, CurateApp.parse(Array(
        "--input", in, "--rates", "srcA=1", "--temperature", "1.0",
        "--token-budget", "10")))
    }
  }

  test("CurateApp --dedup-lines and --dsir: pre-pipeline stages wire through") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("dlin").toString
    val tgt = java.nio.file.Files.createTempDirectory("dltgt").toString
    val boiler = "subscribe to our newsletter today please"
    Seq(
      (1L, s"alpha beta gamma delta epsilon zeta\n$boiler", "srcA"),
      (2L, s"$boiler\none two three four five six", "srcA"),
      (3L, boiler, "srcB")) // fully boilerplate → dropped by line dedup
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    Seq((100L, "alpha beta gamma delta epsilon zeta", "t"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(tgt)
    val cfg = CurateApp.parse(Array(
      "--input", in, "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16", "--dedup-lines", "10"))
    assert(cfg.dedupLines == 10)
    val kept = CurateApp.run(spark, cfg)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(1L, 2L)) // doc 3 reduced to nothing → dropped
    // DSIR on top: target favors doc 1's vocabulary; keep half
    val dcfg = CurateApp.parse(Array(
      "--input", in, "--max-dup-word-frac", "0.9",
      "--chunk-size", "16", "--stride", "16", "--dedup-lines", "10",
      "--dsir-target", tgt, "--dsir-keep-frac", "0.5"))
    val dKept = CurateApp.run(spark, dcfg)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(dKept == Set(1L))
    // --dsir-keep-frac without --dsir-target fails loudly
    intercept[IllegalArgumentException] {
      CurateApp.run(spark, CurateApp.parse(Array(
        "--input", in, "--dsir-keep-frac", "0.5")))
    }
  }

  test("CurateApp --span-store: two increments reproduce the batch span inventory") {
    import spark.implicits._
    val in1 = java.nio.file.Files.createTempDirectory("spanin1").toString
    val in2 = java.nio.file.Files.createTempDirectory("spanin2").toString
    val store = java.nio.file.Files.createTempDirectory("spanstore").toString
    val b1 = Seq((1L, "alpha beta gamma delta", "s"),
      (2L, "unique text one here", "s"))
    val b2 = Seq((3L, "zz alpha beta gamma", "s"))
    b1.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in1)
    b2.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in2)
    val out = Seq(in1, in2).map { in =>
      CurateApp.run(spark, CurateApp.parse(Array(
        "--input", in, "--span-store", store, "--shingle-n", "3")))
    }.reduce(_ union _)
    val batch = graft.pipeline.TextPipeline.dupSpans(
      (b1 ++ b2).toDF("doc_id", "text", "source"), k = 3)
      .select("doc_id", "pos")
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty)
    assert(batch.count() == 2) // doc 1 pos 0, doc 3 pos 1
  }

  test("CurateApp --compact-store: two increments reproduce the batch candidate set") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def text(i: Long) =
      if (i % 5 == 0) base
      else if (i % 5 == 1) base.replace("kappa", s"mut$i")
      else s"unique words only document number $i filler ${i * 31}"
    val corpus = (0L until 30L).map(i => (i, text(i), "srcA"))
    val store = java.nio.file.Files.createTempDirectory("compstore").toString
    def ingestVia(range: Range): Set[(Long, Long)] = {
      val in = java.nio.file.Files.createTempDirectory("compin").toString
      corpus.slice(range.start, range.end).toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(in)
      CurateApp.run(spark, CurateApp.parse(Array(
          "--input", in, "--compact-store", store)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = ingestVia(0 until 12) ++ ingestVia(12 until 30)
    val batch = graft.pipeline.TextPipeline
      .minhashCandidates(corpus.toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
  }

  test("CurateApp --jsonl: crawl-dump ingestion with quarantined rejects") {
    val in = java.nio.file.Files.createTempDirectory("jsonlin").toString
    val out = java.nio.file.Files.createTempDirectory("jsonlout").toString
    val quar = java.nio.file.Files.createTempDirectory("jsonlquar").toString
    val lines = Seq(
      """{"id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta", "source": "web"}""",
      """{"id": 2, "text": "one two three four five six seven eight nine", "source": "web"}""",
      """garbage that is not json""",
      """{"id": 3}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "shard-0.jsonl"),
      lines.mkString("\n").getBytes)
    // run() rather than main(): main stops its session, which in-process
    // would kill the shared spec session
    CurateApp.run(spark, CurateApp.parse(Array("--input", in, "--jsonl",
        "--quarantine", quar, "--chunk-size", "4", "--stride", "4")))
      .write.mode("overwrite").parquet(s"$out/chunks")
    val chunks = spark.read.parquet(s"$out/chunks")
    assert(chunks.select("doc_id").distinct().count() == 2,
      "both good docs survive to chunks")
    val q = spark.read.parquet(quar).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(q == Set(("garbage that is not json", "malformed_json"),
      ("""{"id": 3}""", "missing_text")))
  }

  test("CurateApp --winnow-store: two increments reproduce the batch overlap pairs") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, s"one two $run three", "s"), (2L, s"five six $run seven", "s"),
      (3L, s"eight nine $run ten", "s"), (4L, "nothing shared here at all whatsoever now", "s"))
    val store = java.nio.file.Files.createTempDirectory("winstore").toString
    def ingestVia(docs: Seq[(Long, String, String)]): Set[(Long, Long, Long)] = {
      val in = java.nio.file.Files.createTempDirectory("winin").toString
      docs.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
      CurateApp.run(spark, CurateApp.parse(Array(
          "--input", in, "--winnow-store", store,
          "--winnow-k", "3", "--min-shared", "1")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val got = ingestVia(corpus.take(2)) ++ ingestVia(corpus.drop(2))
    val batch = graft.pipeline.TextPipeline
      .winnowCandidates(corpus.toDF("doc_id", "text", "source"),
        k = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
    assert(batch.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("GraftApp end-to-end: dst_ip/flow_id-consuming analytic over wire JSON") {
    val in = java.nio.file.Files.createTempDirectory("appin2").toString
    val out = java.nio.file.Files.createTempDirectory("appout2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("appckpt2").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)

    // host_stats consumes dst_ip (peer_number) — this is the column the
    // wire schema itself doesn't carry; parse must derive it
    write("b1.json",
      flowJson(6, 11000L, 2, 100),
      flowJson(6, 12000L, 3, 200))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "host_stats", inputJson = Some(in),
      output = out, checkpoint = ckpt,
      window = "10 seconds", slide = Some("10 seconds")))
    try {
      q.processAllAvailable()
      write("b2.json", flowJson(17, 100000L, 1, 50))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .filter(col("src_ip") === "10.0.0.1").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("flows") == 2L)
      assert(rows.head.getAs[Long]("peer_number") == 1L)
    } finally q.stop()
  }

  test("FlowSource.parse derives src_ip/dst_ip with v6 fallback and unique flow_id") {
    import spark.implicits._
    val raw = Seq(
      """{"ipfix.sourceIPv4Address":"10.0.0.1","ipfix.destinationIPv4Address":"192.0.2.1","ipfix.flowStartMilliseconds":1000}""",
      """{"ipfix.sourceIPv6Address":"2001:db8::1","ipfix.destinationIPv6Address":"2001:db8::2","ipfix.flowStartMilliseconds":2000}""",
      // identical payloads must still get distinct flow_ids
      """{"ipfix.sourceIPv4Address":"10.0.0.9","ipfix.destinationIPv4Address":"192.0.2.9","ipfix.flowStartMilliseconds":3000}""",
      """{"ipfix.sourceIPv4Address":"10.0.0.9","ipfix.destinationIPv4Address":"192.0.2.9","ipfix.flowStartMilliseconds":3000}"""
    ).toDF("value")
    val parsed = graft.streaming.FlowSource.parse(raw).collect()
      .sortBy(_.getAs[Long]("start_ms"))
    assert(parsed(0).getAs[String]("dst_ip") == "192.0.2.1")
    assert(parsed(1).getAs[String]("src_ip") == "2001:db8::1")
    assert(parsed(1).getAs[String]("dst_ip") == "2001:db8::2")
    assert(parsed(2).getAs[Long]("flow_id") != parsed(3).getAs[Long]("flow_id"))
  }

  test("FlowSource.files flow_id is unique across microbatches and replay-stable") {
    val in = java.nio.file.Files.createTempDirectory("appin3").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    // same payload in two files, arriving in two different microbatches:
    // a per-batch counter would hand both the same id
    write("f1.json", flowJson(6, 11000L, 2, 100), flowJson(6, 12000L, 3, 200))
    def run(ckpt: String): Seq[(String, Long)] = {
      val flows = graft.streaming.FlowSource.files(spark, in)
      val q = flows.select(col("src_ip"), col("start_ms"), col("flow_id"))
        .writeStream.format("memory").queryName(s"xbatch_${ckpt.hashCode.abs}")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        if (!new java.io.File(in, "f2.json").exists())
          write("f2.json", flowJson(6, 11000L, 2, 100))
        q.processAllAvailable()
        spark.table(s"xbatch_${ckpt.hashCode.abs}")
          .collect().map(r => (r.getAs[Long]("start_ms").toString, r.getAs[Long]("flow_id"))).toSeq
      } finally q.stop()
    }
    val first = run(java.nio.file.Files.createTempDirectory("appckpt3").toString)
    assert(first.size == 3)
    assert(first.map(_._2).distinct.size == 3) // cross-batch unique
    // replay from scratch (fresh checkpoint) reproduces the same ids
    val second = run(java.nio.file.Files.createTempDirectory("appckpt4").toString)
    assert(first.sortBy(r => (r._1, r._2)) == second.sortBy(r => (r._1, r._2)))
  }

  private def flowJson2(src: String, dst: String, proto: Int, srcPort: Int,
                        dstPort: Int, startMs: Long, packets: Int, bytes: Int) =
    s"""{"ipfix.sourceIPv4Address":"$src","ipfix.destinationIPv4Address":"$dst","ipfix.protocolIdentifier":$proto,"ipfix.sourceTransportPort":$srcPort,"ipfix.destinationTransportPort":$dstPort,"ipfix.packetDeltaCount":$packets,"ipfix.octetDeltaCount":$bytes,"ipfix.tcpControlBits":16,"ipfix.flowStartMilliseconds":$startMs,"ipfix.flowEndMilliseconds":${startMs + 100}}"""

  test("GraftApp end-to-end: ddos keyed-state analytic file -> parquet") {
    val in = java.nio.file.Files.createTempDirectory("ddosappin").toString
    val out = java.nio.file.Files.createTempDirectory("ddosappout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ddosappckpt").toString
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    write("b1.json", (0 until 10).map(i =>
      flowJson2(s"10.1.0.$i", "192.168.1.1", 17, 4000 + i, 53, 1000L * i, 10, 500)))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "ddos", inputJson = Some(in), output = out, checkpoint = ckpt,
      dstPattern = "192\\.168\\..*", ratioIncrease = 5.0, minPackets = 100L))
    try {
      q.processAllAvailable()
      write("b2.json", (0 until 5).map(i =>
        flowJson2(s"10.2.0.$i", "192.168.1.1", 17, 5000 + i, 53, 60000L + i, 1000, 50000)))
      q.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("dst_ip") == "192.168.1.1")
      assert(rows.head.getAs[Double]("long_ratio") == 10.0d)
      assert(rows.head.getAs[String]("type") == "ddos")
    } finally q.stop()
  }

  test("GraftApp ddos at its shipped defaults goes quiet once its input is drained") {
    // an idle query runs no micro-batch unless the watermark moves: a
    // processing-time state timeout would run empty batches back to back
    val in = java.nio.file.Files.createTempDirectory("ddosidlein").toString
    val out = java.nio.file.Files.createTempDirectory("ddosidleout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ddosidleckpt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b1.json"), Seq(
      flowJson2("10.1.0.1", "192.168.1.1", 17, 4000, 53, 1502900000000L, 10, 500),
      flowJson2("10.1.0.2", "192.168.1.1", 17, 4001, 53, 1502900001000L, 10, 500))
      .mkString("\n").getBytes)
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "ddos", inputJson = Some(in), output = out, checkpoint = ckpt))
    def commits = Option(new java.io.File(ckpt, "commits").list()).toSeq.flatten
      .count(_.forall(_.isDigit))
    try {
      val deadline = System.nanoTime + 120L * 1000000000L
      while (!q.recentProgress.exists(_.numInputRows > 0) && System.nanoTime < deadline)
        Thread.sleep(100)
      assert(q.recentProgress.exists(_.numInputRows > 0), "the input batch never committed")
      val first = commits
      Thread.sleep(5000)
      assert(commits - first <= 2, s"${commits - first} micro-batches while idle")
    } finally q.stop()
  }

  test("GraftApp end-to-end: host_cardinality sketches land as a queryable layer") {
    val in = java.nio.file.Files.createTempDirectory("cardin").toString
    val out = java.nio.file.Files.createTempDirectory("cardout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cardckpt").toString
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    // host .1 talks to 7 distinct peers, host .2 to 3, inside one window
    write("b1.json",
      (0 until 14).map(i =>
        flowJson2("10.5.0.1", s"192.0.2.${i % 7}", 6, 40000 + i, 80, 11000L + i, 1, 10)) ++
      (0 until 6).map(i =>
        flowJson2("10.5.0.2", s"192.0.3.${i % 3}", 6, 41000 + i, 80, 12000L + i, 1, 10)))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "host_cardinality", inputJson = Some(in), output = out,
      checkpoint = ckpt, window = "10 seconds"))
    try {
      q.processAllAvailable()
      // close the window by advancing the watermark
      write("b2.json", Seq(
        flowJson2("10.5.0.9", "192.0.2.9", 6, 42000, 80, 300000L, 1, 10)))
      q.processAllAvailable()
      val layer = spark.read.parquet(out)
      val est = layer.select(col("src_ip"), col("peer_est")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.get("10.5.0.1").contains(7L) && est.get("10.5.0.2").contains(3L), est)
      // the stored binaries are a real sketch layer: global rollup
      val global = graft.scale.Sketches.rollup(
          layer.select(col("src_ip"), col("sketch")),
          Seq(org.apache.spark.sql.functions.lit(1).as("g")))
        .collect().head.getLong(1)
      assert(global == 10L) // 7 + 3 disjoint peer sets
    } finally q.stop()
  }

  test("GraftApp end-to-end: reflect_ddos windowed analytic file -> parquet") {
    val in = java.nio.file.Files.createTempDirectory("reflappin").toString
    val out = java.nio.file.Files.createTempDirectory("reflappout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("reflappckpt").toString
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    val dns = "192.168.0.53"
    write("b1.json",
      (0 until 2).map(i => flowJson2("10.7.0.1", dns, 17, 4000 + i, 53, 1000L * (i + 1), 1, 100)) ++
      (0 until 3).map(i => flowJson2(dns, "10.7.0.1", 17, 53, 4000 + i, 3000L + 1000L * i, 10, 4000)))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "reflect_ddos", inputJson = Some(in), output = out,
      checkpoint = ckpt, window = "20 seconds", watermark = "30 seconds",
      dnsServers = Seq(dns), minReplies = 2L))
    try {
      q.processAllAvailable()
      // watermark pusher closes the first window
      write("b2.json", Seq(flowJson2("10.9.9.9", dns, 17, 4999, 53, 900000L, 1, 1)))
      q.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("src_ip") == "10.7.0.1")
      assert(rows.head.getAs[Double]("amplification") == 60.0d)
    } finally q.stop()
  }

  test("GraftApp end-to-end: YAML-configured pattern_finder file -> parquet (S7)") {
    val in = java.nio.file.Files.createTempDirectory("pfappin").toString
    val out = java.nio.file.Files.createTempDirectory("pfappout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pfappckpt").toString
    val yaml = java.nio.file.Files.createTempFile("pfcfg", ".yml")
    // reference-shaped config: TCP-only filter, biflow key, per-flow
    // vector [packets, bytes], one pattern matching the request/response
    // fixture below
    java.nio.file.Files.write(yaml,
      """configuration:
        |    name: Test Detection
        |    window: 300
        |    slice: 5
        |filter:
        |    - element_names:
        |          - ipfix.protocolIdentifier
        |      type: int
        |      values:
        |          - 6
        |vectors:
        |    key:
        |        type: biflow
        |        elements:
        |            src_ip: ipfix.sourceIPv4Address
        |            dst_ip: ipfix.destinationIPv4Address
        |            src_port: ipfix.sourceTransportPort
        |            dst_port: ipfix.destinationTransportPort
        |            flow_start: ipfix.flowStartMilliseconds
        |        time_difference: 500
        |    values:
        |        - type: element
        |          element: ipfix.packetDeltaCount
        |        - type: element
        |          element: ipfix.octetDeltaCount
        |distance:
        |    distance_module: biflow_quadratic_form
        |    patterns:
        |        - name: hit
        |          request: [5, 500]
        |          response: [6, 1000]
        |    distribution:
        |        default:
        |            intervals: [0, 1, 2, 4]
        |            weights: [2, 1, 1, 2]
        |            limit: 2
        |""".stripMargin.getBytes)
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes)
    // two request/response biflows on the pattern: the first opens the
    // key's throttle window, the second (past the 300 s report interval)
    // is the boundary reporting the accumulated window; plus a far-future
    // pair pushing both join-side watermarks
    write("b1.json", Seq(
      flowJson2("10.8.0.1", "192.0.2.9", 6, 40000, 53, 10000L, 5, 500),
      flowJson2("192.0.2.9", "10.8.0.1", 6, 53, 40000, 10100L, 6, 1000),
      flowJson2("10.8.0.1", "192.0.2.9", 6, 40001, 53, 320000L, 5, 500),
      flowJson2("192.0.2.9", "10.8.0.1", 6, 53, 40001, 320100L, 6, 1000),
      flowJson2("10.9.9.9", "192.0.2.8", 6, 50000, 81, 900000L, 1, 1),
      flowJson2("192.0.2.8", "10.9.9.9", 6, 81, 50000, 900100L, 1, 1)))
    val q = GraftApp.build(spark, GraftApp.Config(
      analytic = "pattern_finder", inputJson = Some(in), output = out,
      checkpoint = ckpt, config = Some(yaml.toString)))
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .filter(col("key") === "10.8.0.1-192.0.2.9").collect()
      assert(rows.length == 1)
      // distance 0 -> bin 0 -> weight 2 per biflow, both accumulated
      assert(rows.head.getAs[scala.collection.Seq[Long]]("dist").toSeq ==
        Seq(4L, 0L, 0L, 0L))
    } finally q.stop()
  }

  test("kafkaFlowId: partition<<48|offset composition fails loudly on overflow") {
    import spark.implicits._
    val ok = Seq((0, 5L), (3, 7L)).toDF("partition", "offset")
      .select(graft.streaming.FlowSource.kafkaFlowId.as("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(ok == Seq(5L, (3L << 48) | 7L))
    // an offset past 2^48 must stop the query, not alias across partitions
    val bad = Seq((0, 1L << 48)).toDF("partition", "offset")
      .select(graft.streaming.FlowSource.kafkaFlowId.as("id"))
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage.contains("kafkaFlowId overflow") ||
      e.getCause != null && e.getCause.getMessage.contains("kafkaFlowId overflow"))
  }

  test("GraftApp.loadTlsDict parses the reference CSV shape") {
    val f = java.nio.file.Files.createTempFile("tlsdict", ".csv")
    java.nio.file.Files.write(f,
      "# comment\n002f,0035;dev0;os0;app0;br0\n1301;dev1;os1;app1;br1\n".getBytes)
    val d = GraftApp.loadTlsDict(f.toString)
    assert(d.size == 2)
    assert(d.head.suites == "002f,0035" && d.head.operating_system == "os0")
    assert(d(1).browser == "br1")
  }

  test("GraftApp.parse maps CLI args") {
    val c = GraftApp.parse(Array(
      "--analytic", "ports_scan", "--input-json", "/x",
      "--output", "/o", "--checkpoint", "/c",
      "--window", "60 seconds", "--slide", "5 seconds"))
    assert(c.analytic == "ports_scan" && c.inputJson.contains("/x"))
    assert(c.window == "60 seconds" && c.slide.contains("5 seconds"))
    intercept[IllegalArgumentException] { GraftApp.parse(Array("--nope")) }
    intercept[IllegalArgumentException] {
      GraftApp.analytic(GraftApp.Config(analytic = "bogus"))
    }
  }
}
