package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No dead public API: every non-private, non-`override` `def` under
  * `src/main/scala` is named somewhere besides its own definition, in a
  * main, test or benchmark source. A name is a token, so a scaladoc
  * link or a same-named def elsewhere counts as a use; the scan finds
  * defs nothing names at all, not every unused overload. */
class DeadApiLintSpec extends AnyFunSuite {

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  // modifiers and annotations before `def` on its own line
  private val Def = """(?m)^\s*((?:@\w+\s+|\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  test("every public def under src/main/scala has a reference") {
    val main = Paths.get("src", "main", "scala")
    val sources = (scalaFiles(main) ++ scalaFiles(Paths.get("src", "test")) ++
      scalaFiles(Paths.get("perfbench", "src")))
      .map(p => p -> Files.readString(p)).toMap
    val uses = sources.values.flatMap(Ident.findAllIn).toSeq
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val unreferenced = for {
      (path, text) <- sources.toSeq if path.startsWith(main)
      m <- Def.findAllMatchIn(text)
      mods = m.group(1)
      if !Seq("private", "protected", "override").exists(mods.contains)
      if uses(m.group(2)) == 1
    } yield s"${main.relativize(path)}: ${m.group(2)}"
    assert(unreferenced.isEmpty, s"public defs nothing names: ${unreferenced.sorted.mkString(", ")}")
  }
}
