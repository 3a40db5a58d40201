package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.pipeline.TextPipeline
import graft.streaming.{CurationStream, ResultSink}

/** CurationStream: the exactly-once streaming face of incremental
  * corpus dedup — pairs and the band-key store both advance through
  * writeBatchIdempotent partitions, so every foreachBatch replay and
  * crash point lands on committed state. */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def text(i: Long) =
    if (i % 5 == 0) base
    else if (i % 5 == 1) base.replace("kappa", s"mut$i")
    else s"unique words only document number $i filler ${i * 31}"
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("streaming minhash pairs equal the batch candidates; stores advance exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = tmp("cs_store"); val pairsPath = tmp("cs_pairs")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = CurationStream.minhashPairs(docs, storeDir, pairsPath)
      .outputMode(OutputMode.Append()).start()
    val corpus = (0L until 40L).map(i => (i, text(i)))
    try {
      val (b1, rest) = corpus.splitAt(13)
      val (b2, b3) = rest.splitAt(14)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val got = ResultSink.readCommitted(spark, pairsPath)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once even before the set-ification
    assert(got.length == got.toSet.size, "duplicate pair emission")
    val batchPairs = TextPipeline
      .minhashCandidates(corpus.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == batchPairs)
    // the key store holds each doc's band keys exactly once
    val keys = ResultSink.readCommitted(spark, s"$storeDir/keys")
    assert(keys.select("doc_id").distinct().count() == 40L)
    assert(keys.groupBy("doc_id", "bucket").count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("streaming winnow pairs equal the batch candidates with exact shared counts") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = tmp("cs_wstore"); val pairsPath = tmp("cs_wpairs")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = CurationStream.winnowPairs(docs, storeDir, pairsPath,
      k = 3, w = 4, minShared = 1)
      .outputMode(OutputMode.Append()).start()
    val corpus = (0L until 30L).map(i => (i, text(i)))
    try {
      val (b1, b2) = corpus.splitAt(11)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = ResultSink.readCommitted(spark, pairsPath)
      .select("doc_a", "doc_b", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, "duplicate pair emission")
    val batch = TextPipeline.winnowCandidates(corpus.toDF("doc_id", "text"),
        k = 3, w = 4, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.toSet == batch, "streaming union != batch (counts included)")
    // replay of the last batch id is a no-op
    val before = ResultSink.readCommitted(spark, pairsPath).count()
    val b2df = corpus.drop(11).toDF("doc_id", "text")
    assert(!CurationStream.ingestWinnowBatch(b2df, 1L, storeDir, pairsPath,
      k = 3, w = 4, minShared = 1))
    assert(ResultSink.readCommitted(spark, pairsPath).count() == before)
  }

  test("streaming edit-distance pairs equal the batch operator; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = tmp("cs_edstore"); val pairsPath = tmp("cs_edpairs")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = CurationStream.editDistancePairs(docs, storeDir, pairsPath,
      maxDist = 8, n = 2)
      .outputMode(OutputMode.Append()).start()
    val corpus = (0L until 30L).map(i => (i, text(i)))
    try {
      val (b1, b2) = corpus.splitAt(11)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = ResultSink.readCommitted(spark, pairsPath)
      .select("doc_a", "doc_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, "duplicate pair emission")
    val batch = TextPipeline.editDistancePairs(
        corpus.toDF("doc_id", "text"), maxDist = 8, n = 2, maxDf = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.toSet == batch, "streaming union != batch")
    assert(batch.nonEmpty) // the parity pin must not be vacuous
    // replay of the last batch id is a no-op (pairs committed -> skip)
    val before = ResultSink.readCommitted(spark, pairsPath).count()
    val b2df = corpus.drop(11).toDF("doc_id", "text")
    assert(!CurationStream.ingestEditDistanceBatch(b2df, 1L, storeDir,
      pairsPath, maxDist = 8, n = 2))
    assert(ResultSink.readCommitted(spark, pairsPath).count() == before)
    // all four store tables advanced exactly once per batch
    Seq("ed_keys", "ed_meta", "ed_texts", "ed_dfs").foreach { t =>
      val tbl = ResultSink.readCommitted(spark, s"$storeDir/$t")
      assert(tbl.select("batch_id").distinct().count() == 2L, t)
    }
  }

  test("streaming normalize pre-pass == batch normalizeText-then-dedup (r13 parity)") {
    // Decomposed spellings (e + combining acute) of otherwise-identical
    // docs: WITHOUT normalization the byte-different texts shingle into
    // different buckets; with the NFC pre-pass the streaming pipeline
    // must emit exactly the pairs the batch normalize-then-candidates
    // composition finds.
    implicit val sqlCtx = spark.sqlContext
    val composed = "caf\u00e9 menu r\u00e9sum\u00e9 naive fiance " +
      "words words words words words"
    val decomposed = "cafe\u0301 menu re\u0301sume\u0301 naive fiance " +
      "words  words\twords words words" // decomposed + collapse-able ws
    val corpus: Seq[(Long, String)] = Seq(
      (0L, composed), (1L, decomposed),
      (2L, text(2)), (3L, text(3)), (4L, composed.replace("menu", "list")))
    val storeDir = tmp("cs_nstore"); val pairsPath = tmp("cs_npairs")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = CurationStream.minhashPairs(docs, storeDir, pairsPath,
        normalize = Some("NFC"))
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = corpus.splitAt(2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = ResultSink.readCommitted(spark, pairsPath)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = TextPipeline.minhashCandidates(
      TextPipeline.normalizeText(corpus.toDF("doc_id", "text"))
        .select(col("doc_id"), col("text_norm").as("text"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, s"stream $got != batch $batch")
    // and the canonical-spelling pair is actually found
    assert(got.contains((0L, 1L)), got)
  }

  test("streaming BPE encode with a bpeTrain vocab == batch encode (r13 parity)") {
    // Training is inherently batch (iterative corpus scans); the
    // streaming face is ENCODING with the frozen merge list — a
    // stateless codegen projection that must tokenize a stream exactly
    // as the batch path does over the same rows.
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0L until 30L).map(i => (i, text(i))).toDF("doc_id", "text")
    val merges = TextPipeline.bpeTrain(corpus, numMerges = 24,
      batchSize = 8).map(_._1)
    assert(merges.nonEmpty)
    def encode(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(graft.expressions.TextExpressions
        .wordShingles(col("text"), 1)).as("word"))
      .select(col("doc_id"), col("word"),
        concat_ws("|", graft.expressions.TextExpressions
          .bpeEncode(col("word"), merges)).as("syms"))
    val mem = MemoryStream[(Long, String)]
    val q = encode(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = (0L until 30L).map(i => (i, text(i)))
      val (b1, b2) = rows.splitAt(17)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("bpe_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      val batch = encode(corpus).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      assert(got.sameElements(batch))
      // the vocab actually merges something (not a char-level no-op)
      assert(got.exists(_._3.exists(_ != '|')) &&
        got.exists(r => r._3.split("\\|").exists(_.length > 1)))
    } finally q.stop()
  }

  test("streaming URL dedup == batch urlDedup drop list under in-order arrival") {
    import graft.pipeline.UrlCuration
    implicit val sqlCtx = spark.sqlContext
    val storeDir = tmp("cs_ustore"); val dupsPath = tmp("cs_udups")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "url")
    val q = CurationStream.urlDups(docs, storeDir, dupsPath)
      .outputMode(OutputMode.Append()).start()
    // synthUrl guarantees canonical collisions (page key = id % 29) and
    // a couple of rows that never canonicalize; evaluate the synth +
    // canon once driver-side for the batch reference
    val table = spark.range(0, 90).toDF("doc_id")
      .select(col("doc_id"), UrlCuration.synthUrl(col("doc_id")).as("u"),
        UrlCuration.canonicalizeUrl(
          UrlCuration.synthUrl(col("doc_id"))).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2))))
      .toMap
    val urlOf = (i: Long) => table(i)._1
    val canonOf = (u: String) =>
      table.values.collectFirst { case (url, c) if url == u => c }.flatten
    val corpus = (0L until 90L).map(i => (i,
      if (i % 37 == 0) "not a url" else urlOf(i)))
    try {
      val (b1, rest) = corpus.splitAt(30)
      val (b2, b3) = rest.splitAt(30)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val got = ResultSink.readCommitted(spark, dupsPath)
      .select("doc_id", "keeper").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "duplicate emission")
    // batch reference: every doc except its group's min-id keeper
    val byCanon = corpus
      .flatMap { case (id, u) => canonOf(u).map(c => (c, id)) }
      .groupBy(_._1).values
    val expect = byCanon.flatMap { g =>
      val keeper = g.map(_._2).min
      g.map(_._2).filter(_ != keeper).map(d => (d, keeper))
    }.toSet
    assert(expect.nonEmpty && got.toSet == expect)
    // the store holds each canonical URL exactly once, keeper = global min
    val keys = ResultSink.readCommitted(spark, s"$storeDir/url_keys")
    assert(keys.groupBy("url_canon").count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("streaming drift monitor: per-batch KL rows equal batch corpusDrift against the static reference") {
    import graft.pipeline.Curation
    implicit val sqlCtx = spark.sqlContext
    val outPath = tmp("cs_drift")
    val reference = Seq(
      (100L, "alpha beta gamma alpha", "sA"),
      (101L, "one two three four", "sB")).toDF("doc_id", "text", "source")
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val q = CurationStream.driftPerBatch(docs, reference, outPath)
      .outputMode(OutputMode.Append()).start()
    val b1 = Seq((1L, "alpha beta gamma alpha", "sA"),
      (2L, "one two three four", "sB")) // identical to reference: KL 0
    val b2 = Seq((3L, "delta delta delta", "sA")) // drifted
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = ResultSink.readCommitted(spark, outPath)
    // batch 0 (both sources identical to the reference): KL exactly 0
    val g0 = got.filter(col("batch_id") === 0)
      .select("source", "kl").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(g0 == Map("sA" -> 0.0, "sB" -> 0.0))
    // batch 1 equals the batch operator run on exactly that batch
    val expect = Curation.corpusDrift(reference,
      b2.toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val g1 = got.filter(col("batch_id") === 1)
      .select("source", "kl").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(g1 == expect && g1.exists(_._2 > 0.5))
  }

  test("a replayed batch id is a no-op: pairs and keys unchanged") {
    val storeDir = tmp("cs_store2"); val pairsPath = tmp("cs_pairs2")
    val b1 = (0L until 10L).map(i => (i, text(i))).toDF("doc_id", "text")
    val b2 = (10L until 20L).map(i => (i, text(i))).toDF("doc_id", "text")
    assert(CurationStream.ingestBatch(b1, 0L, storeDir, pairsPath))
    assert(CurationStream.ingestBatch(b2, 1L, storeDir, pairsPath))
    val pairsBefore = ResultSink.readCommitted(spark, pairsPath).count()
    val keysBefore = ResultSink.readCommitted(spark, s"$storeDir/keys").count()
    // foreachBatch replays the LAST batch after restart — same id again
    assert(!CurationStream.ingestBatch(b2, 1L, storeDir, pairsPath))
    assert(ResultSink.readCommitted(spark, pairsPath).count() == pairsBefore)
    assert(ResultSink.readCommitted(spark, s"$storeDir/keys").count() == keysBefore)
  }

  test("crash between pair commit and key commit: replay completes the keys without re-pairing against itself") {
    val storeDir = tmp("cs_store3"); val pairsPath = tmp("cs_pairs3")
    val b1 = (0L until 10L).map(i => (i, text(i))).toDF("doc_id", "text")
    val b2 = (10L until 20L).map(i => (i, text(i))).toDF("doc_id", "text")
    assert(CurationStream.ingestBatch(b1, 0L, storeDir, pairsPath))
    // simulate the inverse torn state too: batch 1's KEYS committed but
    // its pairs never were (crash between the two writes is impossible
    // in ingestBatch's order, but a custom caller could commit keys
    // first) — the batch_id filter must keep the replay's store view
    // identical to the pre-batch store
    val keys2 = graft.pipeline.IncrementalDedup.index(b2)
    ResultSink.writeBatchIdempotent(keys2, 1L, s"$storeDir/keys")
    assert(CurationStream.ingestBatch(b2, 1L, storeDir, pairsPath),
      "pairs for batch 1 must still commit")
    val got = ResultSink.readCommitted(spark, pairsPath)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = TextPipeline
      .minhashCandidates((0L until 20L).map(i => (i, text(i)))
        .toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batchPairs, "replay with pre-committed keys double-paired")
  }

  test("CapSaturation streaming face: saturating streamed ingest warns, benign stays silent") {
    implicit val sqlCtx = spark.sqlContext
    graft.scale.CapSaturation.drainWarnings() // isolate from other specs
    // benign: disjoint token sets per doc, generous cap — the streamed
    // ingest's capBuckets observation must stay SILENT (cap 100 never
    // appears in any warning drained below)
    val bStore = tmp("cs_sat_b_store"); val bPairs = tmp("cs_sat_b_pairs")
    val memB = MemoryStream[(Long, String)]
    val qB = CurationStream.minhashPairs(memB.toDF().toDF("doc_id", "text"),
      bStore, bPairs, maxBucket = 100L)
      .outputMode(OutputMode.Append()).start()
    try {
      memB.addData((0L until 60L).map(i =>
        (i, Seq.tabulate(8)(j => s"tok${i}x$j").mkString(" "))): _*)
      qB.processAllAvailable()
    } finally qB.stop()
    // saturating: one boilerplate class floods every band bucket past a
    // tiny cap — the 47-bit recall-collapse shape, streamed. The warning
    // must surface THROUGH the streaming face: foreachBatch's inner
    // ingest is a batch execution on the same session, so the
    // QueryExecutionListener CapSaturation installed sees its observe
    // node exactly as in the batch path.
    val sStore = tmp("cs_sat_store"); val sPairs = tmp("cs_sat_pairs")
    val memS = MemoryStream[(Long, String)]
    val qS = CurationStream.minhashPairs(memS.toDF().toDF("doc_id", "text"),
      sStore, sPairs, maxBucket = 3L)
      .outputMode(OutputMode.Append()).start()
    try {
      memS.addData((0L until 60L).map(i => (i, base)): _*)
      qS.processAllAvailable()
    } finally qS.stop()
    // listener delivery is async — poll briefly
    val deadline = System.nanoTime() + 10000L * 1000000L
    var warnings = Seq.empty[String]
    while (warnings.isEmpty && System.nanoTime() < deadline) {
      warnings = graft.scale.CapSaturation.drainWarnings()
      if (warnings.isEmpty) Thread.sleep(50)
    }
    assert(warnings.nonEmpty, "saturating streamed ingest fired no warning")
    // every drained warning names the SATURATING run's cap (3) — the
    // benign streamed run (cap 100) stayed silent
    assert(warnings.forall(_.contains("maxBucket=3")), warnings)
    assert(warnings.head.contains("BUCKET-SATURATION"))
  }
}
