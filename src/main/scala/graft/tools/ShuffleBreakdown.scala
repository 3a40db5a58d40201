package graft.tools

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
    val spark = toolSession("graft-shufflebreakdown")
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
      val mk = ScaleSmoke.docQueries(docs, emb, n, scratch).toMap.apply(name)
      mk().count() // cold pass: codegen/footers, unmeasured
      spark.catalog.clearCache()
      val df = mk()
      val run = StageMeter(spark).measure(name)(df.count())
      println(f"===== $name @ $n docs: ${run.value} rows, ${run.wallMs / 1e3}%.2f s")
      // stage wall vs summed executor run time: a stage whose wall ≈ its
      // total executor time ran ~serially — the straggler/collapsed-
      // partition signal per STAGE; executor time INCLUDES GC stalls, so
      // gc separates "the operator is this expensive" from "the heap was
      // dirty"
      StageMeter.table(run.stages.filter(s => s.shuffleBytes > 0 || s.ms > 1000))
        .foreach(println)
      println(f"  TOTAL shuffle ${run.stages.map(_.shuffleBytes).sum / 1e6}%.1f MB")
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
