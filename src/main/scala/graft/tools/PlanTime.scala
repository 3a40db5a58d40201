package graft.tools

/** Split one SparkEntry query's warm latency into plan-side phases
  * (analysis, optimization, physical planning — driver-only, in the
  * timed window of every Bench run) vs execution. Planning cost is
  * per-QUERY, not per-byte: at 100 TB it's noise, at bench SF it can
  * dominate a sub-second row, so this tool decides whether a slow row
  * needs a better plan or just has a fat expression tree.
  *
  * Usage: runMain graft.tools.PlanTime <queryName> [sfDir] [reps]
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = toolSession("graft-plantime")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: codegen, JIT, footers
    for (_ <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.assertAnalyzed()
      val t2 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val t3 = System.nanoTime()
      df.queryExecution.executedPlan
      val t4 = System.nanoTime()
      val n = df.count()
      val t5 = System.nanoTime()
      println(f"rows=$n%d build=${(t1 - t0) / 1e6}%.0fms analyze=${(t2 - t1) / 1e6}%.0fms " +
        f"optimize=${(t3 - t2) / 1e6}%.0fms physical=${(t4 - t3) / 1e6}%.0fms " +
        f"execute=${(t5 - t4) / 1e6}%.0fms total=${(t5 - t0) / 1e6}%.0fms")
    }
    spark.stop()
  }
}
