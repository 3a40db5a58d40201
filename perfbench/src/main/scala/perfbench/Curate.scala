package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{DocSynth, Graft}
import graft.pipeline.{Curation, TextPipeline}

/** batch_curate: `Curation.curate` over a seeded DocSynth corpus, result
  * written as parquet, repeated (after untimed warm-up calls) for the
  * run's length and at least [[MinCalls]] times. The traced run also
  * calls each curate stage as its own public function. */
object Curate {
  /** Small enough that a warm call takes 2-3 s on 4 cores, so a run holds
    * several calls. The call is bound by its ~40 Spark jobs: 2000
    * documents took 5-7 s, 300 took 3-3.5 s and 120 took 2.5 s. */
  val Docs = 200L
  val BenchDocs = 20L
  val CorpusSeed = 42L
  val MinCalls = 4
  /** The seed picks one of this many decontamination sets; each has its
    * recorded output in [[ExpectedFile]]. */
  val Variants = 64
  val ExpectedFile = "perfbench/curate_expected.json"

  def variant(seed: Long): Int = Math.floorMod(seed, Variants.toLong).toInt

  /** Order-independent (row count, digest) of a chunk table. */
  def digest(chunks: DataFrame): (Long, Long) = {
    val r = chunks.agg(count(lit(1)), sum(pmod(xxhash64(col("doc_id"), col("chunk_id"),
      col("n_chunk_tokens"), col("chunk_text")), lit(1L << 31)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The corpus is the same for every seed; the seed picks the
    * decontamination set. Over seeded corpora, connected components took
    * two or three rounds (20 or 30 Spark jobs) depending on where random
    * near-duplicates fell, and that alone moved `batch_s` by a third
    * between seeds. */
  def writeCorpus(spark: SparkSession, variant: Int, dir: Path): Unit = {
    DocSynth.documents(spark, Docs, CorpusSeed).write.mode("overwrite")
      .parquet(dir.resolve("docs").toString)
    DocSynth.documents(spark, BenchDocs, variant.toLong).write.mode("overwrite")
      .parquet(dir.resolve("bench").toString)
  }

  /** (count, digest) recorded for the seed's variant when the benchmark
    * was defined, or the reason there is none. */
  def expected(seed: Long): Either[String, (Long, Long)] = {
    val f = Path.of(ExpectedFile)
    if (!Files.isReadable(f)) Left(s"$ExpectedFile not readable")
    else {
      val pat = ("\"" + variant(seed) + "\"\\s*:\\s*\\[\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\]").r
      pat.findFirstMatchIn(Files.readString(f)).map(m => (m.group(1).toLong, m.group(2).toLong))
        .toRight(s"no entry for variant ${variant(seed)} in $ExpectedFile")
    }
  }

  def run(a: Args, rec: Record, tr: Tracer): Unit = {
    val root = Path.of(a.work)
    var spark: SparkSession = null
    // set-up = session + the corpus written by the program's DocSynth;
    // batch_s does not include it
    Harness.phase("set-up")
    val setups = (0 until 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = Harness.nowMs
      spark = Graft.session()
      writeCorpus(spark, variant(a.seed), root.resolve(s"corpus$i"))
      (Harness.nowMs - t0) / 1000.0
    }
    rec.e("setup_s", Stats.median(setups), "s")
    Streams.stampSession(spark, rec)
    val corpus = root.resolve("corpus2")
    val docs = () => spark.read.parquet(corpus.resolve("docs").toString)
    val bench = () => spark.read.parquet(corpus.resolve("bench").toString)

    val digests = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def curateOnce(kind: String): Double = {
      val out = root.resolve(s"chunks${digests.size % 2}").toString
      Harness.kind(spark, kind)
      val s = Harness.nowMs
      rec.attempted.incrementAndGet()
      tr.span("pipeline.curate")(Curation.curate(docs(), bench()).write.mode("overwrite").parquet(out))
      val ms = Harness.nowMs - s
      spark.catalog.clearCache()
      Harness.kind(spark, "check")
      digests += digest(spark.read.parquet(out))
      ms
    }
    // warm-up, untimed: the first call in a fresh JVM loads classes and
    // generates code and took 2-3 times as long as the later ones
    Harness.phase("warm-up call")
    rec.n("batch_cold_s", curateOnce("warmup") / 1000.0, "s", 1)
    def timed(): (Seq[Double], Double) = {
      val t0 = Harness.nowMs
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      while (walls.size < MinCalls || Harness.nowMs - t0 < a.seconds * 1000.0)
        walls += curateOnce("curate")
      (walls.toSeq, Harness.nowMs - t0)
    }
    Harness.phase("timed calls")
    val walls = timed()._1
    val batch = Stats.median(walls)
    rec.e("throughput_per_s", Docs / (batch / 1000.0), "1/s")
    rec.e("latency_p50_ms", batch, "ms")
    rec.n("batch_s", batch / 1000.0, "s", walls.size)

    if (a.trace) {
      Harness.phase("traced calls")
      val meter = new TaskMeter
      spark.sparkContext.addSparkListener(meter)
      tr.enabled = true
      val (traced, wallMs) = timed()
      val tb = Stats.median(traced)
      rec.overhead(Docs / (tb / 1000.0), tb)
      meter.report(rec, Seq("curate"), traced.size, wallMs, Runtime.getRuntime.availableProcessors())
      stages(spark, docs(), bench(), rec, tr, meter)
    }

    rec.gate("curate output identical across calls", digests.distinct.size == 1, digests.distinct.toString)
    val want = expected(a.seed)
    rec.gate("curate (count, digest) == recorded for the seed's variant", want.contains(digests.head),
      want.fold(identity, w => s"${digests.head} != $w"))
    rec.stamps("curate_output") = digests.head.toString
  }

  /** Print the (count, digest) of curate's output for every variant, as
    * the contents of `curate_expected.json`. */
  def record(root: Path): Unit = {
    val spark = Graft.session()
    val entries = (0 until Variants).map { v =>
      writeCorpus(spark, v, root)
      val out = root.resolve("chunks").toString
      Curation.curate(spark.read.parquet(root.resolve("docs").toString),
        spark.read.parquet(root.resolve("bench").toString)).write.mode("overwrite").parquet(out)
      spark.catalog.clearCache()
      val (n, h) = digest(spark.read.parquet(out))
      s"""  "$v": [$n, $h]"""
    }
    println(entries.mkString("PERFBENCH_RECORD {\n", ",\n", "\n}"))
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Each curate stage as its own call, materialised before the next,
    * in curate's order and with its defaults. */
  def stages(spark: SparkSession, docs: DataFrame, bench: DataFrame, rec: Record,
             tr: Tracer, meter: TaskMeter): Unit = {
    def timed(name: String, kind: String)(df: => DataFrame): (DataFrame, Double) = {
      Harness.kind(spark, kind)
      val s = Harness.nowMs
      val out = tr.span(s"pipeline.$name") {
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        d.count(); d
      }
      (out, Harness.nowMs - s)
    }
    val (kept, repMs) = timed("repetition", "stage") {
      val ids = Curation.repetitionStats(docs).filter(col("dup_word_frac") <= 0.55).select("doc_id")
      docs.join(ids, Seq("doc_id"))
    }
    val ccJobs0 = meter.tally("cluster").jobs.get
    val (comp, clMs) = timed("cluster", "cluster")(Curation.clusterComponents(kept))
    val ccJobs = meter.tally("cluster").jobs.get - ccJobs0
    val survivors = comp.filter(col("doc_id") === col("component")).select("doc_id")
    val (clean, deMs) = timed("decontaminate", "stage")(
      Curation.decontaminate(kept.join(survivors, Seq("doc_id")), bench, 3))
    val (_, chMs) = timed("chunk", "stage")(Curation.chunk(clean, 64, 48))
    rec.l("pipeline.repetition_ms", repMs, "ms")
    rec.l("pipeline.cluster_ms", clMs, "ms")
    rec.l("pipeline.decontaminate_ms", deMs, "ms")
    rec.l("pipeline.chunk_ms", chMs, "ms")
    rec.l("scale.cc_jobs", ccJobs.toDouble, "count")
    Harness.kind(spark, "check")
    val pairs = tr.span("scale.candidate_pairs")(TextPipeline.minhashBucketStarEdges(kept).count())
    val removed = kept.count() - survivors.count()
    rec.l("pipeline.pairs_per_dup", if (removed == 0) 0.0 else pairs.toDouble / removed, "ratio")
    spark.catalog.clearCache()
  }
}
