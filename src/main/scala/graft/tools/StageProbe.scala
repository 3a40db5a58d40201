package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-stage timing probe for one SparkEntry query: runs it cold then
  * warm under a stage listener and prints each stage's wall time. This is
  * the "measure, don't guess" tool for small-SF latency triage — it
  * separates a real plan defect (one fat stage that would grow with the
  * data) from fixed floor (many ~50-100 ms stages whose count, not size,
  * dominates at tiny SF and amortizes to nothing at scale).
  *
  * Usage: runMain graft.tools.StageProbe <queryName> [sfDir]
  */
object StageProbe {

  /** One probed run: warm wall time, result rows, and per-stage
    * (stageId, ops, ms, tasks) sorted slowest-first. */
  final case class Probe(name: String, rows: Long, wallMs: Double,
                         stages: Seq[(Int, String, Long, Int)]) {
    def stageSumMs: Long = stages.map(_._3).sum
    def floorMs: Double = wallMs - stageSumMs
  }

  /** Run `name` cold (codegen + footer reads, unmeasured) then warm
    * under a stage listener. The (wall − stageSum) gap is scheduler /
    * AQE-orchestration floor: fixed per stage count, amortizes to
    * nothing at scale. */
  def probe(spark: SparkSession, name: String, sfDir: String): Probe = {
    val stages = ArrayBuffer.empty[(Int, String, Long, Int)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(-1L)
        // AQE query-stage names are all "withThreadLocalCaptured…"; the
        // RDD callsites inside the stage carry the operator names
        val ops = si.rddInfos.map(_.name).distinct.mkString(",")
        stages.synchronized {
          stages += ((si.stageId, ops, ms, si.numTasks))
        }
      }
    }
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // cold: codegen + footer reads, not measured
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val wallMs = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(200) // listener bus drain
    Probe(name, n, wallMs, stages.synchronized(stages.toSeq).sortBy(-_._3))
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Graft.session("graft-stageprobe", s"local[$cpus]")
    val p = probe(spark, name, sfDir)
    println(f"query=$name rows=${p.rows} wall=${p.wallMs}%.0fms " +
      f"stages=${p.stages.size} stageSum=${p.stageSumMs}ms")
    p.stages.foreach { case (id, nm, ms, tasks) =>
      println(f"  stage $id%4d ${ms}%6dms tasks=$tasks%3d  $nm")
    }
    spark.stop()
  }
}
