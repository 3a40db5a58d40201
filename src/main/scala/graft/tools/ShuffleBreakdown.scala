package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DocSynth

/** Per-stage shuffle-write breakdown for one heavy-tier smoke query at
  * given DocSynth scales — the "where do the bytes come from" companion
  * to [[ScaleSmoke]] (which totals shuffle per query) and [[StageProbe]]
  * (which times stages per registered query at an sf dir). When a smoke
  * row's shuffle grows faster than its wall, this prints which STAGE
  * owns the growth and which join strategies the final adaptive plan
  * actually chose, so the cause lands in the ledger as a measurement,
  * not a hypothesis (the q_hybrid_dedup 63× row, VERDICT r14 #3).
  *
  * Usage: `runMain graft.tools.ShuffleBreakdown <query> [nDocs,nDocs...]`
  * with query any [[ScaleSmoke.docQueries]] name; embeddings synthesize
  * at the testdata ratio (2 vectors / 5 docs) like ScaleSmoke. */
object ShuffleBreakdown {

  // Query shapes and configurations come from [[ScaleSmoke.docQueries]]
  // — the same registry the smoke rows are measured with, so a cap
  // retune there is automatically what this breakdown attributes.

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_hybrid_dedup")
    val scales = args.drop(1).headOption.getOrElse("50000,500000")
      .split(",").toSeq.filter(_.nonEmpty).map(_.toLong)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Graft.session("graft-shufflebreakdown", s"local[$cpus]")
    val scratch = s"/tmp/graft_breakdown_${System.getProperty("user.name", "u")}"

    scales.foreach { n =>
      val docDir = s"$scratch/docs_$n"
      val embDir = s"$scratch/emb_$n"
      DocSynth.documents(spark, n).write.mode("overwrite").parquet(docDir)
      DocSynth.embeddings(spark, n * 2 / 5).write.mode("overwrite")
        .parquet(embDir)
      val docs = spark.read.parquet(docDir)
      val emb = spark.read.parquet(embDir)
      spark.catalog.clearCache()
      val stages = ArrayBuffer.empty[(Int, String, Long, Long, Int, Double, Double, Double)]
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val w = si.taskMetrics.shuffleWriteMetrics
          // stage wall vs summed executor run time: a stage whose wall
          // ≈ its total executor time on a 32-core box ran ~serially —
          // the straggler/collapsed-partition signal per STAGE (the
          // smoke's max_task_ms says one exists; this says where)
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield (c - s) / 1e3).getOrElse(-1.0)
          // executorRunTime INCLUDES GC stalls; jvmGCTime separates
          // "the operator is this expensive" from "the heap was dirty" —
          // the question behind any 3× run-to-run wall swing at 5M
          val exec = si.taskMetrics.executorRunTime / 1e3
          val gc = si.taskMetrics.jvmGCTime / 1e3
          stages.synchronized {
            stages += ((si.stageId,
              si.rddInfos.map(_.name).distinct.mkString(","),
              w.bytesWritten, w.recordsWritten, si.numTasks, wall, exec, gc))
          }
        }
      }
      val mk = ScaleSmoke.docQueries(docs, emb, n, scratch).toMap.apply(name)
      mk().count() // cold pass: codegen/footers, unmeasured
      spark.catalog.clearCache()
      spark.sparkContext.addSparkListener(listener)
      val df = mk()
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // quiesce-until-stable instead of a fixed sleep (ScaleSmoke's
      // settle() pattern): stage-completed rows ride the ASYNC listener
      // bus, and under load a slow bus can take >300 ms — a fixed sleep
      // would silently drop a query's final-stage wall/exec/gc rows.
      // Settle BEFORE removing the listener (removal drops the queue),
      // bounded so a zombie-event trickle can't hang the breakdown.
      locally {
        val deadline = System.nanoTime() + 30L * 1000000000L
        var last = stages.synchronized(stages.size)
        var quiet = 0
        while (quiet < 2 && System.nanoTime() <= deadline) {
          Thread.sleep(100)
          val now = stages.synchronized(stages.size)
          if (now == last) quiet += 1 else { quiet = 0; last = now }
        }
        if (quiet < 2)
          System.err.println("[breakdown] WARNING: listener bus still " +
            "receiving stage rows after 30 s — table may be incomplete")
      }
      spark.sparkContext.removeSparkListener(listener)
      println(f"===== $name @ $n docs: $rows rows, $sec%.2f s")
      val snap = stages.synchronized(stages.toSeq)
      snap.filter(s => s._3 > 0 || s._6 > 1.0).sortBy(-_._6).foreach {
        case (id, ops, bytes, recs, tasks, wall, exec, gc) =>
          println(f"  stage $id%4d  wall $wall%7.1f s  exec $exec%8.1f s  " +
            f"gc $gc%7.1f s  ${bytes / 1e6}%9.1f MB  ${recs}%12d recs  " +
            f"$tasks%4d tasks  " + ops.split(",").take(6).mkString(","))
      }
      println(f"  TOTAL shuffle ${snap.map(_._3).sum / 1e6}%.1f MB")
      // which join strategies the FINAL adaptive plan chose (the
      // broadcast->shuffle flip is visible here, not in the static plan)
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("CartesianProduct"))
        .map(_.trim.take(140)).toSeq.distinct
        .foreach(l => println(s"  JOIN $l"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
