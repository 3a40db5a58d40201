package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Reads Scala sources the way the compiler's lexer sees them, for the
  * source lints: [[code]] blanks every comment and the literal text of
  * every string, so a name counts only where code names it.
  *
  *  - Line comments and block comments go; block comments nest.
  *  - String literals go, single- or triple-quoted, including any comment
  *    marker inside them; a character literal such as `'"'` opens no
  *    string.
  *  - In an interpolated literal (`s"…"`, `f"""…"""`) the literal text
  *    goes but the code stays: the identifier of `$x` and everything
  *    inside `${…}`, which is lexed again by the same rules.
  *
  * Blanked characters become spaces and newlines stay, so line and
  * column positions are those of the source.
  */
object SourceScan {

  /** `text` with comments and literal text blanked. */
  def code(text: String): String = new Lexer(text).run()

  /** Path relative to `root` → text of every `.scala` file under
    * `root`. */
  def read(root: Path): Map[String, String] = {
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private final class Lexer(src: String) {
    private val out = new java.lang.StringBuilder(src.length)
    private var i = 0

    private def at(k: Int): Char = if (k < src.length) src.charAt(k) else '\u0000'
    private def startsAt(s: String): Boolean = src.startsWith(s, i)
    private def isIdStart(c: Char) = c.isLetter || c == '_'
    private def isIdPart(c: Char) = c.isLetterOrDigit || c == '_'

    private def keep(): Unit = { out.append(src.charAt(i)); i += 1 }
    private def blank(): Unit = { out.append(if (src.charAt(i) == '\n') '\n' else ' '); i += 1 }
    private def blank(n: Int): Unit = (0 until n).foreach(_ => if (i < src.length) blank())

    def run(): String = { codeUntil(closeBrace = false); out.toString }

    /** Code up to the end of input or, inside `${…}`, its closing brace
      * (left for the caller). */
    private def codeUntil(closeBrace: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src.charAt(i)
        if (startsAt("//")) while (i < src.length && src.charAt(i) != '\n') blank()
        else if (startsAt("/*")) blockComment()
        else if (c == '"') {
          // an identifier right before the quote makes it an interpolator
          val interpolated = out.length > 0 && isIdPart(out.charAt(out.length - 1))
          string(interpolated)
        } else if (c == '\'') charLiteral()
        else if (c == '{') { depth += 1; keep() }
        else if (c == '}') {
          if (closeBrace && depth == 0) return
          depth -= 1; keep()
        } else keep()
      }
    }

    private def blockComment(): Unit = {
      var depth = 0
      while (i < src.length) {
        if (startsAt("/*")) { depth += 1; blank(2) }
        else if (startsAt("*/")) { depth -= 1; blank(2); if (depth == 0) return }
        else blank()
      }
    }

    /** `'x'`, `'\n'`, `'\''`, `'\u0041'`; anything else (a symbol
      * literal) is code. */
    private def charLiteral(): Unit =
      if (at(i + 1) == '\\') {
        blank(3); while (i < src.length && src.charAt(i) != '\'' && src.charAt(i) != '\n') blank()
        if (at(i) == '\'') blank()
      } else if (at(i + 2) == '\'' && at(i + 1) != '\n') blank(3)
      else keep()

    private def string(interpolated: Boolean): Unit = {
      val triple = startsAt("\"\"\"")
      blank(if (triple) 3 else 1)
      var open = true
      while (open && i < src.length) {
        val c = src.charAt(i)
        if (triple && startsAt("\"\"\"")) {
          // a run of quotes closes with its last three
          while (at(i + 3) == '"') blank()
          blank(3); open = false
        } else if (!triple && c == '"') { blank(); open = false }
        else if (!triple && c == '\n') open = false
        else if (!triple && c == '\\') blank(2)
        else if (interpolated && c == '$') {
          if (at(i + 1) == '{') { blank(2); codeUntil(closeBrace = true); if (i < src.length) blank() }
          else if (isIdStart(at(i + 1))) { blank(); while (i < src.length && isIdPart(src.charAt(i))) keep() }
          else blank(2)
        } else blank()
      }
    }
  }
}
