package graft

import org.scalatest.funsuite.AnyFunSuite

/** One listener implementation in the program: every tool measures
  * stages through `tools/StageMeter.scala`, so no other main source may
  * define or name a `SparkListener` in code ([[SourceScan]]; a comment
  * may). */
class ListenerLintSpec extends AnyFunSuite {

  test("only tools/StageMeter.scala mentions SparkListener under src/main/scala") {
    val code = SourceScan.read(java.nio.file.Paths.get("src", "main", "scala"))
      .map { case (path, text) => path -> SourceScan.code(text) }
    val meter = "graft/tools/StageMeter.scala"
    val offenders = (code - meter).collect { case (path, c) if c.contains("SparkListener") => path }
    assert(code(meter).contains("extends SparkListener"))
    assert(offenders.isEmpty, s"listener outside StageMeter: ${offenders.toSeq.sorted.mkString(", ")}")
  }
}
