package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SuffixDedup: truncated prefix-doubling exact duplicate-span
  * detection. Parity with the hashed dupSpans where hashes are
  * collision-free; length-exactness and document-boundary semantics the
  * hash route can only promise probabilistically. */
class SuffixDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toSeq.toDF("doc_id", "text")

  private def spans(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("exactDupSpans equals the hashed dupSpans on a collision-free corpus") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox runs fast and the lazy dog sleeps"),
      (3L, "completely different words in this one here"),
      (4L, "the quick brown fox jumps again today"))
    for (k <- Seq(1, 2, 3, 4, 5)) {
      val exact = spans(SuffixDedup.exactDupSpans(d, minLen = k))
      val hashed = spans(TextPipeline.dupSpans(d, k = k))
      assert(exact == hashed, s"minLen=$k: $exact vs $hashed")
    }
  }

  test("length is exact: a dup of exactly minLen tokens is found, minLen-1 is not") {
    // docs share exactly the 3-token run 'x y z' (surroundings differ)
    val d = docs(
      (1L, "a x y z b"),
      (2L, "c x y z d"))
    val three = spans(SuffixDedup.exactDupSpans(d, minLen = 3))
    assert(three == Set((1L, 1, 2L), (2L, 1, 2L)), three.toString)
    // at minLen=4 the shared run is too short — nothing survives
    assert(SuffixDedup.exactDupSpans(d, minLen = 4).isEmpty)
  }

  test("windows never match across a document boundary") {
    // doc 1 ends with 'p q' and doc 2 begins with 'r s': the 4-token
    // sequence p q r s also appears INSIDE doc 3 — only doc 3 could
    // pair with a 4th doc, never with the 1|2 concatenation
    val d = docs(
      (1L, "filler one p q"),
      (2L, "r s filler two"),
      (3L, "zz p q r s zz"))
    assert(SuffixDedup.exactDupSpans(d, minLen = 4).isEmpty)
    // control: a genuine duplicate of the same run IS found
    val d2 = d.union(docs((4L, "aa p q r s bb")))
    val got = spans(SuffixDedup.exactDupSpans(d2, minLen = 4))
    assert(got == Set((3L, 1, 2L), (4L, 1, 2L)), got.toString)
  }

  test("occurrences counts the full class size") {
    val d = docs(
      (1L, "one two three tail1"),
      (2L, "one two three tail2"),
      (3L, "one two three tail3"))
    val got = spans(SuffixDedup.exactDupSpans(d, minLen = 3))
    assert(got == Set((1L, 0, 3L), (2L, 0, 3L), (3L, 0, 3L)))
  }

  test("empty and token-poor documents are safe at every power-of-two path") {
    val d = docs((1L, ""), (2L, "solo"), (3L, "two words"),
      (4L, "two words"), (5L, "   "))
    // minLen=2 (pure doubling) and minLen=3 (combine path): the only
    // duplicate is 'two words'
    assert(spans(SuffixDedup.exactDupSpans(d, minLen = 2)) ==
      Set((3L, 0, 2L), (4L, 0, 2L)))
    assert(SuffixDedup.exactDupSpans(d, minLen = 3).isEmpty)
    // minLen=1: every repeated token
    val ones = spans(SuffixDedup.exactDupSpans(d, minLen = 1))
    assert(ones == Set((3L, 0, 2L), (4L, 0, 2L), (3L, 1, 2L), (4L, 1, 2L)))
  }
}
