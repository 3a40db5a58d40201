package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** No dead public API. Sources are read as code ([[SourceScan]]): a
  * name in a comment or a string literal is no use, but a same-named def
  * elsewhere is, so the scans find defs by name, not every unused
  * overload.
  *
  *  - Every non-private, non-`override` `def` under `src/main/scala` is
  *    named somewhere besides its own definition, in a main, test or
  *    benchmark source.
  *  - A public def that only specs name (its definition is its one
  *    mention in `src/main` and `perfbench/src`) is in [[testOnlyApi]]
  *    with the reason it stays public; every entry there is still such a
  *    def. Anything else a spec alone calls is deleted.
  */
class DeadApiLintSpec extends AnyFunSuite {

  /** `<path under src/main/scala>: <def>` → why the def stays public
    * with no production caller. Three reasons qualify: the streaming or
    * incremental face of a batch operator that a spec pins against the
    * batch form; a reference app's result-document shape (SURVEY §1.3);
    * an inspection hook a spec asserts through. */
  private val testOnlyApi: Map[String, String] = Map(
    "graft/analytics/PatternConfig.scala: batchReport" ->
      "batch face of the S7 YAML pipeline (streamingReports is the streaming one); AnalyticsSpec pins it against the hand-built pipeline",
    "graft/core/Cached.scala: isCached" ->
      "inspection hook: CachedSpec asserts each *Cached handle persists and releases its frame through it",
    "graft/pipeline/Curation.scala: unigramNllStream" ->
      "streaming face of unigramNll (stream-static LM join); StreamingSpec pins its scores against the batch scorer",
    "graft/pipeline/IncrementalDedup.scala: ingestEmbeddings" ->
      "incremental face of Similarity.annLshBanded; PipelineSpec pins batched ingest against the batch candidates",
    "graft/pipeline/IncrementalDedup.scala: ingestSimhash" ->
      "incremental face of TextPipeline.simhashCandidates; PipelineSpec pins batched ingest against the batch candidates",
    "graft/pipeline/IncrementalDedup.scala: ingestSimhashWide" ->
      "incremental face of TextPipeline.simhashCandidatesWide; PipelineSpec pins batched ingest against the batch candidates",
    "graft/pipeline/IvfPqIndex.scala: appendTo" ->
      "on-disk face of IvfPqIndex.append; PipelineSpec pins a saved-then-appended index against the monolithic build",
    "graft/pipeline/TextPipeline.scala: dedupStreaming" ->
      "streaming face of dedupExactByHash (watermark-evicted digests); StreamingSpec pins its survivors against the batch operator",
    "graft/results/Documents.scala: dailyProfileDoc" ->
      "host_daily_profile result-document shape (SURVEY §1.3)",
    "graft/results/Documents.scala: deleteDaily" ->
      "retirement of result documents from the daily store, the reference's per-day index delete (SURVEY §1.3)",
    "graft/results/Documents.scala: patternFinderDocFromReports" ->
      "pattern_finder result-document shape from streaming PatternReport rows (SURVEY §1.3)",
    "graft/results/Documents.scala: topNHostStatsDoc" ->
      "top_n_host_stats result-document shape (SURVEY §1.3)",
    "graft/scale/CapSaturation.scala: drainWarnings" ->
      "inspection hook: ScaleSpec and CurationStreamSpec assert bucket-saturation warnings through it",
    "graft/scale/Sketches.scala: streamIngest" ->
      "foreachBatch face of Sketches.ingest; ScaleSpec pins the rolled-up store against exact distinct counts",
    "graft/scale/Skew.scala: hasNoShuffle" ->
      "inspection hook: ScaleSpec asserts bucketed joins through it",
    "graft/streaming/CurationStream.scala: driftPerBatch" ->
      "streaming face of corpusDrift; CurationStreamSpec pins its per-batch KL rows against the batch operator",
    "graft/streaming/CurationStream.scala: minhashPairs" ->
      "streaming face of the MinHash candidates; CurationStreamSpec pins its pairs against the batch candidates",
    "graft/streaming/CurationStream.scala: urlDups" ->
      "streaming face of urlDedup; CurationStreamSpec pins its drop list against the batch one",
    "graft/streaming/CurationStream.scala: winnowPairs" ->
      "streaming face of the winnow overlap candidates; CurationStreamSpec pins its pairs and shared counts against the batch candidates",
    "graft/streaming/ResultSink.scala: parquetIdempotent" ->
      "streaming face of ResultSink.writeBatchIdempotent; StreamingSpec checks every streamed row lands once")

  private def read(first: String, more: String*) = SourceScan.read(Paths.get(first, more: _*))

  test("every public def under src/main/scala has a reference") {
    val unreferenced = DeadApiLintSpec.unreferenced(
      read("src", "main", "scala"), read("src", "test").values ++ read("perfbench", "src").values)
    assert(unreferenced.isEmpty, s"public defs nothing names: ${unreferenced.mkString(", ")}")
  }

  test("every public def only specs call is listed with its reason") {
    val specOnly = DeadApiLintSpec.specOnly(
      read("src", "main", "scala"), read("perfbench", "src").values, read("src", "test").values)
    val unlisted = specOnly -- testOnlyApi.keySet
    assert(unlisted.isEmpty,
      "public defs only specs call (delete each, or list it in testOnlyApi with " +
        s"its reason): ${unlisted.toSeq.sorted.mkString(", ")}")
    val stale = testOnlyApi.keySet -- specOnly
    assert(stale.isEmpty,
      "testOnlyApi entries that are gone or now have a production caller: " +
        stale.toSeq.sorted.mkString(", "))
    assert(testOnlyApi.values.forall(_.trim.nonEmpty))
  }
}

/** The lint's rules over sources given as path → text, read by
  * [[SourceScan.code]]: a name inside a comment or a string literal
  * neither defines nor uses a def. */
object DeadApiLintSpec {
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  // modifiers and annotations before `def` on its own line
  private val Def = """(?m)^\s*((?:@\w+\s+|\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def useCounts(texts: Iterable[String]): Map[String, Int] =
    texts.map(SourceScan.code).flatMap(Ident.findAllIn).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** (`path: name`, name) of every non-private, non-override def. */
  private def publicDefs(main: Map[String, String]): Seq[(String, String)] =
    for {
      (path, text) <- main.toSeq
      m <- Def.findAllMatchIn(SourceScan.code(text))
      if !Seq("private", "protected", "override").exists(m.group(1).contains)
    } yield (s"$path: ${m.group(2)}", m.group(2))

  /** `path: name` of each public def in `main` named nowhere but its
    * definition, in `main` or `others`; sorted. */
  def unreferenced(main: Map[String, String], others: Iterable[String]): Seq[String] = {
    val uses = useCounts(main.values ++ others)
    publicDefs(main).collect { case (at, name) if uses(name) == 1 => at }.sorted
  }

  /** `path: name` of each public def in `main` whose definition is its one
    * mention in `main` and `perfbench` and that `specs` name. */
  def specOnly(main: Map[String, String], perfbench: Iterable[String], specs: Iterable[String]): Set[String] = {
    val productionUses = useCounts(main.values ++ perfbench)
    val specUses = useCounts(specs)
    publicDefs(main).collect {
      case (at, name) if productionUses(name) == 1 && specUses.contains(name) => at
    }.toSet
  }
}
