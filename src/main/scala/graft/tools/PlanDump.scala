package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dump `explain formatted` (AQE initial plans, width 8) for the headline
  * queries — the "is the plan the one you'd want" review as committed
  * files: broadcast choices, pushed filters, pruned read schemas, and
  * WholeStageCodegen spans are all visible without re-running anything.
  *
  * Usage:
  *  - `runMain graft.tools.PlanDump [sfDir outFile]` writes every
  *    headline plan into one reviewable markdown file (default
  *    `PLANS.md`); regenerate it after plan-affecting changes.
  *  - `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2]`
  *    writes one `<outDir>/<query>_<suffix>.txt` per query (default: the
  *    headline set) — the before/after plan evidence an optimization
  *    commits next to its claims (`plans/r<N>/`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = args match {
      case Array(s, o) => (s, o)
      case Array(s, _, _, _*) => (s, "")
      case _ => ("/root/testdata/sf0.001", "PLANS.md")
    }
    // pinned whatever the submitted conf says: the committed plan
    // dumps were taken at width 8
    val spark = graft.core.Graft.session("graft-plandump", "local[8]")
    spark.conf.set("spark.sql.shuffle.partitions", 8L)
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String = {
      val text = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      spark.catalog.clearCache()
      text.trim
    }
    args.drop(1) match {
      case Array(outDir, suffix, rest @ _*) =>
        val names = rest.headOption.fold(SparkEntry.benchQueries)(
          _.split(",").toSeq.filter(_.nonEmpty))
        Files.createDirectories(Paths.get(outDir))
        names.foreach { name =>
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
            s"// $name @ $sfDir (AQE initial plan)\n${plan(name)}\n".getBytes(UTF_8))
        }
        println(s"[plandump] wrote ${names.size} plans to $outDir/*_$suffix.txt")
      case _ =>
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
          sb.append(s"\n## $name\n\n```\n").append(plan(name)).append("\n```\n")
        }
        Files.write(Paths.get(outFile), sb.toString.getBytes(UTF_8))
        println(s"[plandump] wrote ${SparkEntry.benchQueries.size} plans to $outFile")
    }
    spark.stop()
  }
}
