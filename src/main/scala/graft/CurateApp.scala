package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Graft
import graft.pipeline.Curation

/** Runnable batch curation application — the training-data counterpart of
  * [[GraftApp]]: read a documents table (parquet with doc_id/text/source),
  * run the composed curation pipeline (repetition filter → cluster dedup →
  * benchmark decontamination → source mixing → chunking), write the
  * training chunks as parquet. Example:
  *
  * {{{
  * spark-submit --class graft.CurateApp graft.jar \
  *   --input /corpus/documents --benchmark /eval/documents \
  *   --output /corpus/chunks --max-dup-word-frac 0.55 \
  *   --rates src_web=250000,src_code=1000000 --chunk-size 2048 --stride 2048
  * }}}
  *
  * Omitting --benchmark skips decontamination; omitting --rates keeps
  * every source at full weight. `--temperature T --token-budget B`
  * derives the rates from the corpus instead (tokens^(1/T)
  * water-filling); `--keep-longest` switches cluster dedup to keep the
  * longest member of each near-dup cluster instead of the min-id one.
  *
  * `--compact-store <dir>` switches to the periodic COMPACTION job for a
  * streaming/incrementally-ingested corpus: the input batch is band-keyed
  * and joined against the append-only store
  * ([[graft.pipeline.IncrementalDedup]]), the output is the batch's
  * candidate pairs (doc_a, doc_b), and the store grows by the batch's
  * keys. Scheduling one such run per ingest increment reproduces exactly
  * the batch operator's candidate set over the whole corpus.
  * `--span-store` is the span-level (duplicate k-gram) analogue and
  * `--winnow-store` the winnowing-overlap one (`--winnow-k/--winnow-w/
  * --min-shared`; `--max-bucket` caps fingerprint df per branch).
  *
  * `--jsonl` reads the input as a crawl-dump JSONL shard set instead of
  * parquet ([[graft.core.CorpusSource.readJsonl]]); `--quarantine <dir>`
  * writes the rejects (raw line + reason) as parquet before the
  * pipeline runs — auditable ingestion, nothing silently dropped.
  */
object CurateApp {

  final case class Config(
      input: String = "",
      benchmark: Option[String] = None,
      output: String = "curated",
      maxDupWordFrac: Double = 0.55,
      n: Int = 3, k: Int = 16, bands: Int = 4,
      rates: Map[String, Long] = Map.empty, // source -> keep ppm
      defaultPpm: Long = 1000000L,
      chunkSize: Int = 64, stride: Int = 48,
      compactStore: Option[String] = None,
      spanStore: Option[String] = None, // span-level incremental dedup
      winnowStore: Option[String] = None, // winnow-overlap incremental dedup
      winnowK: Int = 5, winnowW: Int = 4, minShared: Long = 2L,
      maxBucket: Long = 0L,
      zorder: Seq[String] = Nil, // multi-dim layout of the output
      zorderBits: Int = 16,
      normalize: Option[String] = None, // NFC/NFD/NFKC/NFKD pre-pass
      c4MinWords: Int = 0, // >0 = C4 line cleaning before the pipeline
      qualityKeepFrac: Double = 0.0, // >0 = LM quality gate before the pipeline
      qualityReference: Option[String] = None, // LM corpus (default: the input)
      keepLongest: Boolean = false, // dedup keeps the longest cluster member
      temperature: Double = 0.0, // >0 = tokens^(1/T) mixing (needs budget)
      tokenBudget: Long = 0L, // total-token target for temperature mixing
      dedupLines: Int = 0, // >0 = corpus-wide line dedup (min line chars)
      dsirTarget: Option[String] = None, // DSIR target corpus
      dsirKeepFrac: Double = 0.0, // >0 = keep top frac by DSIR weight
      jsonl: Boolean = false, // input is JSONL, not parquet
      quarantine: Option[String] = None, // JSONL reject sink (parquet)
      observe: Boolean = false, // print output-rows/tokens metrics (one job)
      gate: Seq[String] = Nil, // ';'-separated output constraints (see parseGate)
      diffPrev: Option[String] = None, // previous corpus snapshot (parquet)
      retired: Option[String] = None, // removed-doc_id sink for --diff-prev
      urlDedup: Boolean = false, // canonical-URL dedup (needs a url column)
      audit: Boolean = false) // static plan-audit before running (PlanAudit)

  /** Build the curation pipeline frame (lazy — callers choose the sink),
    * or run a compaction increment when `--compact-store` is set (eager
    * by nature: the store append happens here). */
  def run(spark: SparkSession, c: Config): DataFrame = {
    require(c.input.nonEmpty, "need --input <documents parquet>")
    val raw =
      if (!c.jsonl) spark.read.parquet(c.input)
      else {
        // crawl-dump ingestion: rejects are written eagerly (audited,
        // never silently dropped), good rows flow into the pipeline
        c.quarantine.foreach(q => graft.core.CorpusSource
          .quarantine(spark, c.input).write.mode("overwrite").parquet(q))
        graft.core.CorpusSource.readJsonl(spark, c.input)
      }
    // optional incremental mode FIRST: with --diff-prev, the input is
    // cut to the snapshot delta (added + changed vs the previous corpus
    // version — Curation.corpusDiff) before any other stage, so every
    // downstream scan/shuffle is delta-sized instead of corpus-sized;
    // removed doc_ids go to --retired for the store owner to apply
    // (Documents.deleteDaily / incremental-dedup key retirement)
    val base = c.diffPrev match {
      case None => raw
      case Some(prevPath) =>
        val diff = Curation.corpusDiff(spark.read.parquet(prevPath), raw)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.retired.foreach(rp => diff
          .filter(org.apache.spark.sql.functions.col("status") === "removed")
          .select("doc_id").write.mode("overwrite").parquet(rp))
        raw.join(
          diff.filter(org.apache.spark.sql.functions
            .col("status") =!= "removed").select("doc_id"),
          Seq("doc_id"), "left_semi")
    }
    // optional canonical-URL dedup FIRST among all stages — the cheapest
    // duplicate is the one no text stage ever sees: same page under
    // tracking-param/trailing-slash/case variants keeps only the lowest
    // doc_id; rows without a parseable URL pass through untouched
    val urlDeduped = if (!c.urlDedup) base
      else {
        val canon = base.select(
          org.apache.spark.sql.functions.col("doc_id"),
          graft.pipeline.UrlCuration.canonicalizeUrl(
            org.apache.spark.sql.functions.col("url")).as("__uc"))
        val keepers = canon
          .filter(org.apache.spark.sql.functions.col("__uc").isNotNull)
          .groupBy("__uc")
          .agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
          .select("doc_id")
        val nonUrl = canon
          .filter(org.apache.spark.sql.functions.col("__uc").isNull)
          .select("doc_id")
        base.join(keepers.union(nonUrl), Seq("doc_id"), "left_semi")
      }
    // optional C4 line cleaning ahead of everything else: cheapest-first
    // normalization FIRST among the text stages: every downstream line
    // rule, hash, fingerprint and LM score must see the byte-canonical
    // form, or composed/decomposed spellings of identical text defeat
    // the dedup they feed (one narrow projection — no join needed, the
    // non-text columns ride through)
    val normed = c.normalize match {
      case None => urlDeduped
      case Some(form) =>
        urlDeduped.withColumn("text",
          graft.pipeline.TextPipeline.normalizeTextCol(
            org.apache.spark.sql.functions.col("text"), form))
    }
    // stage order — line rules are partition-local, so scrubbing before
    // dedup/decontamination shrinks every later shuffle
    val lined = if (c.c4MinWords <= 0) normed
      else normed.join(
        Curation.c4LineFilter(normed, minWords = c.c4MinWords)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text_clean")),
        Seq("doc_id"))
        .drop("text")
        .withColumnRenamed("text_clean", "text")
    // optional corpus-wide line dedup after C4 cleaning (RefinedWeb
    // stage order: line-quality rules first, then cross-doc line
    // dedup); documents reduced to nothing are dropped here
    val deduped = if (c.dedupLines <= 0) lined
      else lined.join(
        graft.pipeline.TextPipeline.removeDupLines(lined, c.dedupLines)
          .filter(org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text_clean")) > 0)
          .select("doc_id", "text_clean"),
        Seq("doc_id"))
        .drop("text")
        .withColumnRenamed("text_clean", "text")
    // optional LM quality gate after line cleaning (scores should see
    // the cleaned text): keep the best keepFrac per source by unigram
    // NLL against --quality-reference (or the corpus itself)
    val gated = if (c.qualityKeepFrac <= 0.0) deduped
      else Curation.qualityGate(deduped,
        c.qualityReference.map(spark.read.parquet(_)).getOrElse(deduped),
        c.qualityKeepFrac)
    // optional DSIR selection last of the pre-pipeline stages: the
    // importance weights should see exactly the text the pipeline will.
    // The plain dsirSelect persists its gram/score frames for the rest of
    // this one-shot app run (MEMORY_AND_DISK — spills, never OOMs); a
    // driver looping over many corpora should call dsirSelectCached and
    // release the handle per corpus instead.
    val docs = (c.dsirTarget, c.dsirKeepFrac) match {
      case (Some(t), f) if f > 0.0 =>
        Curation.dsirSelect(gated, spark.read.parquet(t), f)
      case (None, f) if f > 0.0 =>
        throw new IllegalArgumentException(
          "--dsir-keep-frac needs --dsir-target")
      case _ => gated
    }
    (c.compactStore, c.spanStore, c.winnowStore) match {
      case (Some(store), _, _) =>
        graft.pipeline.IncrementalDedup.ingest(store, docs, c.n, c.k,
          c.bands, c.maxBucket)
      case (None, Some(store), _) =>
        graft.pipeline.IncrementalDedup.ingestSpans(store, docs, c.n)
      case (None, None, Some(store)) =>
        graft.pipeline.IncrementalDedup.ingestWinnow(store, docs,
          c.winnowK, c.winnowW, c.minShared, c.maxBucket)
      case _ =>
        val bench = c.benchmark.map(spark.read.parquet(_))
          // no benchmark -> empty eval set -> decontamination is a no-op
          .getOrElse(docs.limit(0))
        // --temperature T --token-budget B derive per-source rates from
        // the corpus itself (tokens^(1/T) water-filling) instead of
        // hand-written --rates; the per-source token totals are one
        // driver-sized aggregate
        val rates =
          if (c.temperature > 0.0 && c.tokenBudget > 0L) {
            require(c.rates.isEmpty,
              "--rates and --temperature are mutually exclusive")
            val tokens = Curation.corpusReport(docs)
              .select("source", "total_tokens").collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            Curation.ratesForTemperature(tokens, c.tokenBudget, c.temperature)
          } else c.rates
        Curation.curate(docs, bench, c.maxDupWordFrac, c.n, c.k, c.bands,
          rates, c.defaultPpm, c.chunkSize, c.stride,
          keepBest = if (c.keepLongest)
            Some(org.apache.spark.sql.functions.length(
              org.apache.spark.sql.functions.col("text"))) else None)
    }
  }

  private def parseRates(v: String): Map[String, Long] =
    v.split(",").filter(_.nonEmpty).map { kv =>
      val Array(s, ppm) = kv.split("=", 2)
      s -> ppm.toLong
    }.toMap

  def parse(args: Array[String]): Config = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--input" :: v :: t     => loop(t, c.copy(input = v))
      case "--benchmark" :: v :: t => loop(t, c.copy(benchmark = Some(v)))
      case "--output" :: v :: t    => loop(t, c.copy(output = v))
      case "--max-dup-word-frac" :: v :: t =>
        loop(t, c.copy(maxDupWordFrac = v.toDouble))
      case "--shingle-n" :: v :: t => loop(t, c.copy(n = v.toInt))
      case "--minhash-k" :: v :: t => loop(t, c.copy(k = v.toInt))
      case "--bands" :: v :: t     => loop(t, c.copy(bands = v.toInt))
      case "--rates" :: v :: t     => loop(t, c.copy(rates = parseRates(v)))
      case "--default-ppm" :: v :: t => loop(t, c.copy(defaultPpm = v.toLong))
      case "--chunk-size" :: v :: t => loop(t, c.copy(chunkSize = v.toInt))
      case "--stride" :: v :: t    => loop(t, c.copy(stride = v.toInt))
      case "--compact-store" :: v :: t =>
        loop(t, c.copy(compactStore = Some(v)))
      case "--jsonl" :: t          => loop(t, c.copy(jsonl = true))
      case "--quarantine" :: v :: t => loop(t, c.copy(quarantine = Some(v)))
      case "--observe" :: t        => loop(t, c.copy(observe = true))
      case "--gate" :: v :: t =>
        loop(t, c.copy(gate = v.split(';').toSeq.filter(_.nonEmpty)))
      case "--diff-prev" :: v :: t => loop(t, c.copy(diffPrev = Some(v)))
      case "--retired" :: v :: t   => loop(t, c.copy(retired = Some(v)))
      case "--url-dedup" :: t      => loop(t, c.copy(urlDedup = true))
      case "--audit" :: t          => loop(t, c.copy(audit = true))
      case "--winnow-store" :: v :: t =>
        loop(t, c.copy(winnowStore = Some(v)))
      case "--winnow-k" :: v :: t  => loop(t, c.copy(winnowK = v.toInt))
      case "--winnow-w" :: v :: t  => loop(t, c.copy(winnowW = v.toInt))
      case "--min-shared" :: v :: t => loop(t, c.copy(minShared = v.toLong))
      case "--span-store" :: v :: t =>
        loop(t, c.copy(spanStore = Some(v)))
      case "--max-bucket" :: v :: t => loop(t, c.copy(maxBucket = v.toLong))
      case "--zorder" :: v :: t =>
        loop(t, c.copy(zorder = v.split(",").filter(_.nonEmpty).toSeq))
      case "--zorder-bits" :: v :: t => loop(t, c.copy(zorderBits = v.toInt))
      case "--normalize" :: v :: t => loop(t, c.copy(normalize = Some(v)))
      case "--c4-min-words" :: v :: t => loop(t, c.copy(c4MinWords = v.toInt))
      case "--quality-keep-frac" :: v :: t =>
        loop(t, c.copy(qualityKeepFrac = v.toDouble))
      case "--quality-reference" :: v :: t =>
        loop(t, c.copy(qualityReference = Some(v)))
      case "--keep-longest" :: t => loop(t, c.copy(keepLongest = true))
      case "--dedup-lines" :: v :: t => loop(t, c.copy(dedupLines = v.toInt))
      case "--dsir-target" :: v :: t =>
        loop(t, c.copy(dsirTarget = Some(v)))
      case "--dsir-keep-frac" :: v :: t =>
        loop(t, c.copy(dsirKeepFrac = v.toDouble))
      case "--temperature" :: v :: t => loop(t, c.copy(temperature = v.toDouble))
      case "--token-budget" :: v :: t => loop(t, c.copy(tokenBudget = v.toLong))
      case Nil => c
      case other :: _ => throw new IllegalArgumentException(s"unknown arg $other")
    }
    loop(args.toList, Config())
  }

  /** Optional multi-dimensional layout pass before the write: z-order
    * the output on `--zorder c1,c2,…` so downstream scans filtering on
    * those columns prune files by min-max stats ([[graft.scale.Layout]]).
    * Pure reordering — row content is identical. */
  def laidOut(spark: SparkSession, c: Config, df: DataFrame): DataFrame =
    if (c.zorder.isEmpty) df
    else graft.scale.Layout.zorder(df, c.zorder,
      partitions = spark.sessionState.conf.numShufflePartitions,
      bits = c.zorderBits)

  /** `--gate` spec → [[graft.scale.Checks]] constraints, one per
    * ';'-separated term:
    *  - `size:LO[:HI]`        row count bounds
    *  - `complete:COL:FRAC`   non-null fraction ≥ FRAC
    *  - `unique:COLS:RATIO`   approx distinct ratio ≥ RATIO (HLL — the
    *                          gate rides the write job as observed
    *                          metrics, where exact distinct is
    *                          analyzer-rejected; COLS comma-separated)
    *  - `mean:COL:LO:HI`      mean bounds
    * e.g. `--gate "size:1000;complete:text:0.99;unique:doc_id:0.98"`. */
  def parseGate(specs: Seq[String]): Seq[graft.scale.Checks.Check] = {
    import graft.scale.Checks
    specs.map(s => s.split(':') match {
      case Array("size", lo)         => Checks.size(lo.toLong)
      case Array("size", lo, hi)     => Checks.size(lo.toLong, hi.toLong)
      case Array("complete", c, f)   => Checks.completeness(c, f.toDouble)
      case Array("unique", cols, r)  =>
        Checks.uniquenessApprox(r.toDouble, 0.02,
          cols.split(',').toIndexedSeq: _*)
      case Array("mean", c, lo, hi)  => Checks.meanOf(c, lo.toDouble, hi.toDouble)
      case _ => throw new IllegalArgumentException(
        s"--gate: unrecognized constraint '$s' " +
          "(size:LO[:HI] | complete:COL:FRAC | unique:COLS:RATIO | mean:COL:LO:HI)")
    })
  }

  /** Write the curated frame to `c.output`. With `--observe`, row/char
    * counters ride the write job itself (graft.scale.Observe — one job,
    * no second pass over the output) and the metrics row is returned.
    * With `--gate`, [[parseGate]] constraints ride the SAME job as
    * observed metrics; a violated constraint throws after the write
    * (nonzero exit — the orchestrator's signal that `c.output` exists
    * but is NOT certified). */
  def write(spark: SparkSession, c: Config,
            out: DataFrame): Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{col, count, length, lit, sum}
    import graft.scale.{Checks, Observe}
    val gateChecks = parseGate(c.gate)
    val gated = if (gateChecks.isEmpty) out
      else Checks.observed(out, "curate_gate", gateChecks)
    val sized = if (!c.observe) gated else {
      val textCol = out.columns.find(_ == "chunk_text")
        .orElse(out.columns.find(_ == "text")).map(col).getOrElse(lit(""))
      gated.observe("curate_out",
        count(lit(1)).as("rows"), sum(length(textCol)).as("chars"))
    }
    if (gateChecks.isEmpty && !c.observe) {
      sized.write.mode("overwrite").parquet(c.output); None
    } else {
      val expected = (if (gateChecks.nonEmpty) 1 else 0) +
        (if (c.observe) 1 else 0)
      val ((), m) = Observe.collect(spark, expected = expected) {
        sized.write.mode("overwrite").parquet(c.output)
      }
      if (gateChecks.nonEmpty) {
        val bad = Checks.evaluate(m("curate_gate"), gateChecks).filterNot(_._3)
        bad.foreach { case (n, v, _) =>
          System.err.println(s"[gate] FAILED $n = $v") }
        if (bad.nonEmpty) throw new IllegalStateException(
          s"--gate: ${bad.size} constraint(s) violated; " +
            s"output at ${c.output} is NOT certified")
      }
      m.get("curate_out")
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val spark = Graft.session("graft-curate")
    val frame = laidOut(spark, c, run(spark, c))
    if (c.audit) {
      // static scale-smell check of THIS configuration's composed plan
      // (a user-supplied rate map / store path can change the shape):
      // refuse to launch a cartesian or global-window plan at 100 TB
      val findings = graft.tools.PlanAudit.audit(frame)
      findings.foreach(f => System.err.println(s"[audit] $f"))
      if (findings.nonEmpty) throw new IllegalStateException(
        s"--audit: ${findings.size} scale anti-pattern(s) in the plan; not running")
    }
    write(spark, c, frame).foreach { row =>
      System.err.println(s"[curate] rows=${row.getAs[Long]("rows")} " +
        s"chars=${Option(row.get(row.fieldIndex("chars"))).getOrElse(0L)}")
    }
    spark.stop()
  }
}
