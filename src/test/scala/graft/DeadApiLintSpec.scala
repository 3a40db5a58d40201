package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No dead public API. A name is a token, so a scaladoc link or a
  * same-named def elsewhere counts as a use; the scans find defs by
  * name, not every unused overload.
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
    "graft/pipeline/IncrementalDedup.scala: ingestSimhashWide" ->
      "incremental face of TextPipeline.simhashCandidatesWide; PipelineSpec pins batched ingest against the batch candidates",
    "graft/pipeline/IvfPqIndex.scala: appendTo" ->
      "on-disk face of IvfPqIndex.append; PipelineSpec pins a saved-then-appended index against the monolithic build",
    "graft/results/Documents.scala: dailyProfileDoc" ->
      "host_daily_profile result-document shape (SURVEY §1.3)",
    "graft/results/Documents.scala: deleteDaily" ->
      "retirement of result documents from the daily store, the reference's per-day index delete (SURVEY §1.3)",
    "graft/results/Documents.scala: patternFinderDocFromReports" ->
      "pattern_finder result-document shape from streaming PatternReport rows (SURVEY §1.3)",
    "graft/results/Documents.scala: topNHostStatsDoc" ->
      "top_n_host_stats result-document shape (SURVEY §1.3)",
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
    "graft/streaming/ResultSink.scala: parquetIdempotent" ->
      "streaming face of ResultSink.writeBatchIdempotent; StreamingSpec checks every streamed row lands once")

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  // modifiers and annotations before `def` on its own line
  private val Def = """(?m)^\s*((?:@\w+\s+|\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private val main = Paths.get("src", "main", "scala")

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  private def sources(roots: Path*): Map[Path, String] =
    roots.flatMap(scalaFiles).map(p => p -> Files.readString(p)).toMap

  private def useCounts(texts: Iterable[String]): Map[String, Int] =
    texts.flatMap(Ident.findAllIn).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** (`path: name`, name) of every non-private, non-override def. */
  private def publicDefs(mainSources: Map[Path, String]): Seq[(String, String)] =
    for {
      (path, text) <- mainSources.toSeq
      m <- Def.findAllMatchIn(text)
      if !Seq("private", "protected", "override").exists(m.group(1).contains)
    } yield (s"${main.relativize(path)}: ${m.group(2)}", m.group(2))

  test("every public def under src/main/scala has a reference") {
    val production = sources(main)
    val uses = useCounts(
      (production ++ sources(Paths.get("src", "test"), Paths.get("perfbench", "src"))).values)
    val unreferenced = publicDefs(production).collect {
      case (at, name) if uses(name) == 1 => at
    }
    assert(unreferenced.isEmpty, s"public defs nothing names: ${unreferenced.sorted.mkString(", ")}")
  }

  test("every public def only specs call is listed with its reason") {
    val production = sources(main)
    val productionUses = useCounts(
      (production ++ sources(Paths.get("perfbench", "src"))).values)
    val specUses = useCounts(sources(Paths.get("src", "test")).values)
    val specOnly = publicDefs(production).collect {
      case (at, name) if productionUses(name) == 1 && specUses.contains(name) => at
    }.toSet
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
