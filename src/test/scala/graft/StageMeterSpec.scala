package graft

import org.apache.spark.ListenerBusSync
import org.apache.spark.sql.functions._

import graft.tools.StageMeter

/** The stage meter returns every stage of its job group, with no sleep
  * between the measured body and the read: its drain is exact. The
  * reference is Spark's own status store, read once the whole bus has
  * delivered. */
class StageMeterSpec extends SparkSpec {

  test("measure: a group's stages equal the status tracker's, 20 runs back to back") {
    val sc = spark.sparkContext
    val rows = spark.range(0, 20000, 1, 8)
      .select((col("id") % 97).as("k"), col("id").as("v"))
    val totals = rows.groupBy("k").agg(sum("v").as("s"))
    val query = rows.join(totals, "k").groupBy("k").agg(max("s"))
    val meter = StageMeter(spark)
    (1 to 20).foreach { i =>
      val run = meter.measure("stage-meter-spec")(query.count())
      assert(run.value == 97L)
      val metered = run.stages.map(_.id)
      ListenerBusSync(sc)
      val tracker = sc.statusTracker
      val ran = tracker.getJobIdsForGroup(run.group).toSeq
        .flatMap(j => tracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq))
        .distinct
        // a job's stage list includes stages skipped because an earlier
        // job already ran them; those never start
        .filter(s => tracker.getStageInfo(s).exists(_.submissionTime > 0))
      assert(run.jobs == tracker.getJobIdsForGroup(run.group).length, s"run $i")
      assert(metered.size > 1 && metered.distinct == metered, s"run $i: $metered")
      assert(metered.sorted == ran.sorted, s"run $i")
      assert(run.failed == 0, s"run $i")
    }
  }

  test("measure: a failing body restores the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller", "caller")
    try {
      intercept[IllegalStateException] {
        StageMeter(spark).measure("failing")(throw new IllegalStateException("x"))
      }
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
    } finally sc.clearJobGroup()
  }

  test("table: an AQE plan-fragment RDD name prints as its operator token") {
    val fragment = "AdaptiveSparkPlan isFinalPlan=false\n" +
      "+- Project [cid#633L, doc_id#12L, n_sh#640, h#641L]\n" +
      "   +- BroadcastHashJoin [doc_id#12L], [doc_id#630L], Inner, BuildRight, false\n" +
      "      :- *(2) Filter (isnotnull(doc_id#12L) AND (size(hs#635, true) > 0))\n" +
      "      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)"
    val stage = StageMeter.Stage(id = 7,
      ops = Seq(fragment, "MapPartitionsRDD", "*(2) Project [a#1, b#2]", "MapPartitionsRDD"),
      ms = 120L, tasks = 4, execMs = 300L, jvmGcMs = 0L, shuffleBytes = 0L,
      shuffleRecords = 0L, memSpill = 0L, diskSpill = 0L, maxTaskMs = 90L,
      slowTasks = 0, failed = 0, pool = "default", query = "q")
    assert(StageMeter.opNames(stage) == Seq("AdaptiveSparkPlan", "MapPartitionsRDD", "Project"))
    val Seq(row) = StageMeter.table(Seq(stage))
    assert(row.endsWith("  AdaptiveSparkPlan,MapPartitionsRDD,Project"), row)
    assert(!row.contains("\n") && !row.contains("#"), row)
  }
}
