package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RangeJoin
import graft.plans.{AsOfJoinExec, AsOfJoinPlan}

/** Generic relational operators Spark lacks natively: backward as-of join
  * (native sorted-merge exec, checked against the union + window
  * reference [[RefAsOfJoin]]) and the bucketed interval-overlap range
  * join. */
class OperatorsSpec extends SparkSpec {

  private def quotes: DataFrame = {
    import spark.implicits._
    Seq( // (key, ts, quote)
      ("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 20L, 3.0), ("a", 40L, 4.0),
      ("b", 15L, 5.0)
    ).toDF("sym", "qts", "quote")
  }

  private def trades: DataFrame = {
    import spark.implicits._
    Seq( // (key, ts, size)
      ("a", 5L, 1L),   // before any quote -> null
      ("a", 20L, 2L),  // tie -> matches ts=20 (greatest payload = 3.0)
      ("a", 30L, 3L),  // between -> ts=20
      ("a", 50L, 4L),  // after -> ts=40
      ("b", 100L, 5L), // b -> ts=15
      ("c", 10L, 6L)   // no right key -> null
    ).toDF("sym", "tts", "size")
  }

  // the exec takes the last right row at a duplicated (key, ts) in sort
  // order, not the greatest payload: dedupe (key, ts) first, keeping the
  // greatest quote, as q_asof_join does
  private def asOf(tolerance: Long = 0L): DataFrame =
    AsOfJoinPlan.backward(trades,
        quotes.groupBy(col("sym").as("q_sym"), col("qts"))
          .agg(max("quote").as("quote")),
        Seq("sym"), Seq("q_sym"), "tts", "qts", tolerance)
      .withColumnRenamed("qts", "asof_ts")

  test("as-of join: backward match, ties, missing keys") {
    val out = asOf()
      .orderBy("sym", "tts")
      .select("sym", "tts", "quote", "asof_ts")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("a", 5L, None, None),
      ("a", 20L, Some(3.0), Some(20L)),
      ("a", 30L, Some(3.0), Some(20L)),
      ("a", 50L, Some(4.0), Some(40L)),
      ("b", 100L, Some(5.0), Some(15L)),
      ("c", 10L, None, None)))
  }

  test("as-of join: tolerance bounds the lag") {
    val out = asOf(tolerance = 10L)
      .orderBy("sym", "tts")
      .select("sym", "tts", "quote")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
    assert(out.toSeq == Seq(
      ("a", 5L, None),
      ("a", 20L, Some(3.0)),
      ("a", 30L, Some(3.0)), // lag 10 = tolerance boundary, inclusive
      ("a", 50L, Some(4.0)),
      ("b", 100L, None),     // lag 85 > 10
      ("c", 10L, None)))
  }

  test("native as-of exec matches the Column form on events") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val ev = core.Tables.events(spark, dir)
      .withColumn("ts_ms", expr("ts div 1000000"))
    val left = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_ms")
    val right = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user"), col("ts_ms").as("click_ms"),
        col("event_id").as("click_id"))
      // dedupe (key, ts) so both forms' tie-resolution agrees
      .groupBy("r_user", "click_ms").agg(max("click_id").as("click_id"))
    val viaColumns = RefAsOfJoin.backward(
        left, right.withColumnRenamed("r_user", "user_id"), Seq("user_id"),
        "ts_ms", "click_ms", Seq("click_id"))
      .select("event_id", "user_id", "ts_ms", "click_id", "asof_ts")
    val viaExec = AsOfJoinPlan.backward(
        left, right, Seq("user_id"), Seq("r_user"), "ts_ms", "click_ms")
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("click_id"),
        col("click_ms").as("asof_ts"))
    assert(viaExec.queryExecution.sparkPlan.exists(
      _.isInstanceOf[AsOfJoinExec]))
    assert(viaColumns.exceptAll(viaExec).isEmpty &&
      viaExec.exceptAll(viaColumns).isEmpty)
    assert(viaColumns.count() == left.count())
  }

  test("native as-of exec: adversarial pre-partitioning on key subsets") {
    // The co-partitioning trap for custom binary execs: each child
    // pre-shuffled on a SUBSET of its join keys (and different counts)
    // satisfies its own ClusteredDistribution while being misaligned
    // with the other side — EnsureRequirements must detect the
    // incompatible HashShuffleSpecs and re-shuffle, or zipPartitions
    // silently merges wrong partition pairs and drops matches.
    import spark.implicits._
    val left = (0 until 400).map { i =>
      (i.toLong % 7, i.toLong % 5, (i * 37L) % 1000L, i.toLong)
    }.toDF("g", "h", "lts", "l_id")
    val right0 = (0 until 300).map { i =>
      (i.toLong % 7, i.toLong % 5, (i * 53L) % 1000L, i.toLong * 10)
    }.toDF("rg", "rh", "rts", "payload")
    // dedupe (key, ts) so exec and Column tie-resolution agree
    val right = right0.groupBy("rg", "rh", "rts")
      .agg(max("payload").as("payload"))

    val reference = RefAsOfJoin.backward(
        left,
        right.withColumnRenamed("rg", "g").withColumnRenamed("rh", "h"),
        Seq("g", "h"), "lts", "rts", Seq("payload"))
      .select("g", "h", "lts", "l_id", "payload")

    val variants: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("left on subset [g] x3", left.repartition(3, col("g")), right),
      ("left [g] x3 vs right [rh] x5",
        left.repartition(3, col("g")), right.repartition(5, col("rh"))),
      ("same subset position, different counts",
        left.repartition(4, col("g")), right.repartition(2, col("rg"))),
      ("full keys, different counts",
        left.repartition(4, col("g"), col("h")),
        right.repartition(2, col("rg"), col("rh"))))
    for ((label, l, r) <- variants) {
      val out = AsOfJoinPlan.backward(l, r, Seq("g", "h"), Seq("rg", "rh"),
          "lts", "rts")
        .select("g", "h", "lts", "l_id", "payload")
      assert(out.queryExecution.sparkPlan.exists(
        _.isInstanceOf[AsOfJoinExec]), s"$label: exec not planned")
      assert(out.count() == 400, s"$label: row count")
      assert(out.exceptAll(reference).isEmpty &&
        reference.exceptAll(out).isEmpty, s"$label: rows differ")
    }
  }

  test("range join: bucketed overlap equals the naive inequality join") {
    import spark.implicits._
    val a = Seq((1L, 0L, 10L), (2L, 5L, 8L), (3L, 100L, 200L), (4L, 7L, 7L))
      .toDF("a_id", "a_start", "a_end")
    val b = Seq((10L, 9L, 12L), (11L, 50L, 99L), (12L, 150L, 300L),
        (13L, 7L, 7L))
      .toDF("b_id", "b_start", "b_end")
    val bucketed = RangeJoin.overlap(a, b, "a_start", "a_end",
        "b_start", "b_end", bucketWidth = 16L)
      .select("a_id", "b_id")
    val naive = a.crossJoin(b)
      .filter(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select("a_id", "b_id")
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    // expected pairs: 1-10 (9..10), 1-13 and 2-13 and 4-13 (point 7),
    // 3-12 (150..200); 11 overlaps nothing
    assert(bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (1L, 13L), (2L, 13L), (4L, 13L), (3L, 12L)))
  }

  test("range join with key column restricts pairs to the key") {
    import spark.implicits._
    val a = Seq(("u1", 0L, 10L), ("u2", 0L, 10L)).toDF("user", "a_start", "a_end")
    val b = Seq(("u1", 5L, 6L)).toDF("user", "b_start", "b_end")
    val out = RangeJoin.overlap(a, b, "a_start", "a_end", "b_start", "b_end",
      bucketWidth = 8L, key = Seq("user"))
    assert(out.select("user").collect().map(_.getString(0)).toSeq == Seq("u1"))
  }

  test("Funnel: step order enforced, null propagation, report counts") {
    import spark.implicits._
    import graft.queries.Funnel
    val events = Seq(
      // u1 completes all three in order
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // u2 purchased BEFORE clicking: purchase must not count
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      // u3 clicked before viewing: only the view counts
      (3L, "click", 5L), (3L, "view", 10L),
      // u4 never viewed: nothing counts, even with click+purchase
      (4L, "click", 10L), (4L, "purchase", 20L))
      .toDF("user_id", "event_type", "ts_ms")
    val steps = Seq("view", "click", "purchase")
    val times = Funnel.stepTimes(events, steps).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3))))).toMap
    assert(times(1L) == ((Some(10L), Some(20L), Some(30L))))
    assert(times(2L) == ((Some(10L), Some(20L), None))) // purchase too early
    assert(times(3L) == ((Some(10L), None, None)))
    assert(times(4L) == ((None, None, None)))
    val rep = Funnel.report(events, steps).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(rep == Seq((0, "view", 3L), (1, "click", 2L), (2, "purchase", 1L)))
  }

  test("Funnel.cohorts: retention triangle on a hand fixture") {
    import spark.implicits._
    import graft.queries.Funnel
    def d(n: Long) = n * 100L // period 100 ms = one "day"
    val events = Seq(
      (1L, d(0)), (1L, d(0) + 5), (1L, d(1)), // cohort 0, active d0+d1
      (2L, d(0) + 9),                          // cohort 0, d0 only
      (3L, d(1)), (3L, d(3)))                  // cohort 1, d1+d3
      .toDF("user_id", "ts_ms")
    val out = Funnel.cohorts(events, periodMs = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 0L, 2L), (0L, 1L, 1L), (1L, 0L, 1L), (1L, 2L, 1L)))
  }
}
