package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SourceScan]] and the dead-API rules over in-memory sources: a name
  * in a comment or a string is no use, a name in interpolated code is. */
class SourceScanSpec extends AnyFunSuite {

  private val lib = "graft/Lib.scala" ->
    """package graft
      |object Lib {
      |  /** The answer. */
      |  def used(): Int = 42
      |  def dead(): Int = 0
      |}
      |""".stripMargin

  private def caller(body: String) = Map(lib, "graft/App.scala" ->
    s"""package graft
       |object App {
       |  val run: Unit = {
       |    println(Lib.used())
       |    $body
       |  }
       |}
       |""".stripMargin)

  private def unreferenced(body: String) = DeadApiLintSpec.unreferenced(caller(body), Nil)

  test("a def named only in a comment or a string literal has no reference") {
    val mentions = Seq(
      "/** see [[Lib.dead]] */",
      "// Lib.dead() is unused",
      "/* outer /* Lib.dead */ still a comment */",
      "println(\"Lib.dead\")",
      "println(\"\"\"Lib.dead\"\"\")",
      "println(s\"Lib.dead: ${1}\")")
    for (m <- mentions)
      assert(unreferenced(m) == Seq("graft/Lib.scala: dead"), m)
    assert(unreferenced("") == Seq("graft/Lib.scala: dead"))
    assert(unreferenced("Lib.dead()").isEmpty)
  }

  test("names inside an interpolation's ${…} and $x are code") {
    assert(unreferenced("println(s\"answer ${Lib.dead()} now\")").isEmpty)
    assert(unreferenced("println(s\"Lib: $dead\")").isEmpty)
    assert(unreferenced("println(f\"\"\"${Lib.dead() + 1}%d\"\"\")").isEmpty)
    assert(unreferenced("println(s\"${\"}\" + Lib.dead()}\")").isEmpty)
  }

  test("a string holding */ does not end a comment early, and comment text opens no string") {
    // the comment opened inside the triple-quoted literal is no comment
    assert(unreferenced("val t = \"\"\"*/ /*\"\"\"; Lib.dead()").isEmpty)
    assert(unreferenced("/* \"\"\" */ Lib.dead()").isEmpty)
    assert(unreferenced("val q = '\"'; Lib.dead()").isEmpty)
    assert(unreferenced("val q = '\\''; Lib.dead()").isEmpty)
  }

  test("a def inside a comment is no def, and the spec-only rule reads code") {
    val main = Map(lib, "graft/App.scala" ->
      "package graft\n/* def ghost(): Int = 1 */\nobject App { val x = Lib.used() }\n")
    assert(DeadApiLintSpec.unreferenced(main, Nil) == Seq("graft/Lib.scala: dead"))
    assert(DeadApiLintSpec.specOnly(main, Nil, Seq("// Lib.dead()")).isEmpty)
    assert(DeadApiLintSpec.specOnly(main, Nil, Seq("class S { Lib.dead() }")) ==
      Set("graft/Lib.scala: dead"))
  }

  test("blanking keeps line structure") {
    val src = "a /* x\ny */ b // c\n\"d\" 'e' s\"$f ${g} h\""
    val out = SourceScan.code(src)
    assert(out.length == src.length)
    assert(out.split("\n", -1).map(_.length).toSeq == src.split("\n", -1).map(_.length).toSeq)
    assert(out.split("\\s+").filter(_.nonEmpty).toSeq == Seq("a", "b", "s", "f", "g"))
  }
}
