package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dump `explain formatted` for every headline query into a reviewable
  * markdown artifact (PLANS.md) — the "is the plan the one you'd want"
  * review as a committed file: broadcast choices, pushed filters,
  * pruned read schemas, and WholeStageCodegen spans are all visible
  * without re-running anything. Regenerate after plan-affecting
  * changes: `sbt "runMain graft.tools.PlanDump <sfDir> <outFile>"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = args match {
      case Array(s, o) => (s, o)
      case _ => ("/root/testdata/sf0.001", "PLANS.md")
    }
    // pinned whatever the submitted conf says: the committed plan
    // dumps were taken at width 8
    val spark = graft.core.Graft.session("graft-plandump", "local[8]")
    spark.conf.set("spark.sql.shuffle.partitions", 8L)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Headline query plans (`explain formatted`, ")
      .append(s"$sfDir, AQE initial plans)\n\n")
      .append("Generated by `graft.tools.PlanDump` — regenerate after ")
      .append("plan-affecting changes. Things to read for: broadcast vs ")
      .append("shuffle join choices, `PushedFilters`/`ReadSchema` pruning ")
      .append("on scans, `WholeStageCodegen` span boundaries, and the ")
      .append("absence of `CartesianProduct`/single-partition `Window`/")
      .append("`Exchange SinglePartition` in any hot path.\n")
    SparkEntry.benchQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
      spark.catalog.clearCache()
    }
    Files.write(Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandump] wrote ${SparkEntry.benchQueries.size} plans to $outFile")
    spark.stop()
  }
}
