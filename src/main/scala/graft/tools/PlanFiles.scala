package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dump `explain formatted` for selected queries into one file per query
  * (`<outDir>/<query>_<suffix>.txt`) — the per-round before/after plan
  * evidence format (`plans/r<N>/`). Unlike [[PlanDump]] (one reviewable
  * markdown over the whole headline set), this writes the per-query
  * files an optimization round commits next to its claims.
  *
  * Usage: `runMain graft.tools.PlanFiles <sfDir> <outDir> <suffix> [q1,q2]`
  * — query list defaults to the full bench headline set.
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans/r19"
    val suffix = if (args.length > 2) args(2) else "before"
    val names =
      if (args.length > 3) args(3).split(",").toSeq.filter(_.nonEmpty)
      else SparkEntry.benchQueries
    // pinned whatever the submitted conf says: the committed plan
    // dumps were taken at width 8
    val spark = graft.core.Graft.session("graft-planfiles", "local[8]")
    spark.conf.set("spark.sql.shuffle.partitions", 8L)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (s"// $name @ $sfDir (AQE initial plan)\n" + plan.trim + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.catalog.clearCache()
    }
    println(s"[planfiles] wrote ${names.size} plans to $outDir/*_$suffix.txt")
    spark.stop()
  }
}
