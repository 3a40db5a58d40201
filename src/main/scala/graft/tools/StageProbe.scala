package graft.tools

import org.apache.spark.sql.SparkSession

/** One SparkEntry query's warm latency, split by layer. First the
  * driver-only planning phases (DataFrame build with its analysis,
  * optimization, physical planning), which are in the timed window of
  * every Bench run and cost per QUERY, not per byte: at 100 TB they are
  * noise, at bench SF they can dominate a sub-second row. Then each
  * stage's wall time under the [[StageMeter]], which separates a real
  * plan defect (one fat stage that would grow with the data) from fixed
  * floor (many ~50-100 ms stages whose count, not size, dominates at
  * tiny SF and amortizes to nothing at scale).
  *
  * Usage: runMain graft.tools.StageProbe <queryName> [sfDir]
  */
object StageProbe {

  /** Run `name` cold (codegen + footer reads, unmeasured), then three
    * times warm under the meter, and return the run with the median
    * wall: one warm sample can read twice the median on a loaded box.
    * The (wall − stageSum) gap is scheduler / AQE-orchestration floor:
    * fixed per stage count, amortizes to nothing at scale. */
  def probe(spark: SparkSession, name: String, sfDir: String): StageMeter.Measured[Long] = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // cold: codegen + footer reads, not measured
    val meter = StageMeter(spark)
    Seq.fill(3)(meter.measure(name)(fn(spark, sfDir).count())).sortBy(_.wallMs).apply(1)
  }

  /** Milliseconds to build a fresh DataFrame for `name`, optimize it and
    * plan it physically, in that order (one sample; run after [[probe]],
    * so the planner is warm). `build` includes analysis: every Dataset
    * operation analyzes its plan as it is built. */
  private def planningMs(spark: SparkSession, name: String, sfDir: String): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
    val t1 = System.nanoTime()
    qe.optimizedPlan
    val t2 = System.nanoTime()
    qe.executedPlan
    val t3 = System.nanoTime()
    Seq("build" -> (t1 - t0), "optimize" -> (t2 - t1), "physical" -> (t3 - t2))
      .map { case (phase, ns) => phase -> ns / 1e6 }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = toolSession("graft-stageprobe")
    val p = probe(spark, name, sfDir) // warms the planner too
    println(s"query=$name planning " + planningMs(spark, name, sfDir)
      .map { case (phase, ms) => f"$phase=$ms%.0fms" }.mkString(" "))
    println(f"query=$name rows=${p.value} wall=${p.wallMs}%.0fms " +
      f"stages=${p.stages.size} stageSum=${p.stageSumMs}ms floor=${p.floorMs}%.0fms")
    StageMeter.table(p.stages).foreach(println)
    spark.stop()
  }
}
