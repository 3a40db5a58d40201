package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the one source of names: Bench times
  * `benchQueries` and Verify dumps every `queries` row against its
  * `oracleSql` entry, so a name in either list that `queries` does not
  * register would only fail at bench or verify time. */
class RegistrySpec extends AnyFunSuite {

  test("every headline bench query is a registered query") {
    val stale = SparkEntry.benchQueries.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"benchQueries not in queries: ${stale.mkString(", ")}")
    assert(SparkEntry.benchQueries.distinct == SparkEntry.benchQueries,
      "benchQueries lists a name twice")
  }

  test("every oracle names a registered query") {
    val stale = SparkEntry.oracleSql.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"oracleSql keys not in queries: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
