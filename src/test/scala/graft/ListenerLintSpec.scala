package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One listener implementation in the program: every tool measures
  * stages through `tools/StageMeter.scala`, so no other main source may
  * define or name a `SparkListener`. */
class ListenerLintSpec extends AnyFunSuite {

  test("only tools/StageMeter.scala mentions SparkListener under src/main/scala") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val meter = root.resolve("graft/tools/StageMeter.scala")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p != meter)
        .filter(p => java.nio.file.Files.readString(p).contains("SparkListener"))
        .map(root.relativize(_).toString).sorted
      finally walk.close()
    assert(java.nio.file.Files.readString(meter).contains("extends SparkListener"))
    assert(offenders.isEmpty, s"listener outside StageMeter: ${offenders.mkString(", ")}")
  }
}
