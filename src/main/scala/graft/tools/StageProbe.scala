package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-stage timing probe for one SparkEntry query: runs it cold then
  * warm under the [[StageMeter]] and prints each stage's wall time. This
  * is the "measure, don't guess" tool for small-SF latency triage — it
  * separates a real plan defect (one fat stage that would grow with the
  * data) from fixed floor (many ~50-100 ms stages whose count, not size,
  * dominates at tiny SF and amortizes to nothing at scale).
  *
  * Usage: runMain graft.tools.StageProbe <queryName> [sfDir]
  */
object StageProbe {

  /** Run `name` cold (codegen + footer reads, unmeasured) then warm
    * under the meter. The (wall − stageSum) gap is scheduler /
    * AQE-orchestration floor: fixed per stage count, amortizes to
    * nothing at scale. */
  def probe(spark: SparkSession, name: String, sfDir: String): StageMeter.Measured[Long] = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // cold: codegen + footer reads, not measured
    StageMeter(spark).measure(name)(fn(spark, sfDir).count())
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = toolSession("graft-stageprobe")
    val p = probe(spark, name, sfDir)
    println(f"query=$name rows=${p.value} wall=${p.wallMs}%.0fms " +
      f"stages=${p.stages.size} stageSum=${p.stageSumMs}ms")
    StageMeter.table(p.stages).foreach(println)
    spark.stop()
  }
}
