package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.core.DocSynth
import graft.pipeline.TextPipeline

/** Banded-levenshtein win at PRODUCTION text lengths.
  *
  * The r16 banded-confirm adoption was measured on ~0.4 KB short-form
  * DocSynth texts (76× less confirm CPU at 5M docs); the claim "the win
  * scales as len/maxDist" was extrapolation. This smoke measures it:
  * synthesize a long-form corpus (~20 KB/doc via DocSynth's
  * wordsMin/wordsMax knob), run `editDistancePairs` end-to-end twice —
  * banded threshold confirm vs the full O(len²) matrix
  * (`bandedConfirm = false`, value-identical by construction) — over the
  * IDENTICAL blocking tier, and print per-variant wall plus the
  * per-stage exec/gc table so the confirm stage's executor-seconds are
  * directly comparable (the ShuffleBreakdown discipline).
  *
  * Usage: `runMain graft.tools.LevBandSmoke [nDocs] [wordsMin] [wordsMax]`
  * (defaults 500000, 2300, 2600 ≈ 20 KB/doc). One JSON line per variant:
  * `{"variant":..,"n_docs":..,"rows":..,"wall_sec":..,"exec_sec":..,
  * "gc_sec":..,"max_stage_exec_sec":..}` followed by the stage table on
  * stderr-style println rows.
  */
object LevBandSmoke {

  private final class StageMeter extends SparkListener {
    val stages = ArrayBuffer.empty[(Int, String, Double, Double, Int)]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val exec = si.taskMetrics.executorRunTime / 1e3
      val gc = si.taskMetrics.jvmGCTime / 1e3
      stages.synchronized {
        stages += ((si.stageId,
          si.rddInfos.map(_.name).distinct.mkString(","),
          exec, gc, si.numTasks))
      }
    }
    def settle(): Unit = { // bounded quiesce (ScaleSmoke's pattern)
      val deadline = System.nanoTime() + 30L * 1000000000L
      var last = stages.synchronized(stages.size)
      var quiet = 0
      while (quiet < 2 && System.nanoTime() <= deadline) {
        Thread.sleep(100)
        val now = stages.synchronized(stages.size)
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
    }
  }

  /** Confirm-only mode (`LevBandSmoke confirm [nPairs]`): the end-to-end
    * run showed the df-capped blocking tier admits so few candidates at
    * 20 KB texts (~1–2k per 500k docs) that the confirm's cost vanishes
    * under ~20,000 exec-s of shingle scan/self-join — the per-pair
    * scaling claim is unmeasurable there. This mode isolates it: build
    * nPairs (half near-dup within maxDist, half unrelated — both
    * populations the real confirm sees), evaluate the full O(len²)
    * matrix vs the banded threshold form over the SAME pair frame, and
    * report per-pair milliseconds and the ratio. */
  private def confirmOnly(spark: SparkSession, nPairs: Long,
                          wordsMin: Int, wordsMax: Int): Unit = {
    import org.apache.spark.sql.functions._
    val docs = DocSynth.documents(spark, nPairs * 2, wordsMin = wordsMin,
      wordsMax = wordsMax)
    // near pair: text vs itself with the tail clipped (distance = clip
    // length ≤ maxDist); far pair: two unrelated docs (distance ≈ len)
    val paired = docs.filter(col("doc_id") < nPairs)
      .select(col("doc_id"), col("text").as("a"))
      .join(docs.filter(col("doc_id") >= nPairs)
        .select((col("doc_id") - nPairs).as("doc_id"), col("text").as("u")),
        Seq("doc_id"))
      .select(col("doc_id"),
        col("a"),
        when(col("doc_id") % 2 === 0,
          substring(col("a"), lit(1), length(col("a")) - 6)) // near: dist 6
          .otherwise(col("u"))                               // far: dist ~len
          .as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = paired.count() // materialize once; both variants read the cache
    val avgLen = paired.selectExpr("avg(length(a))").first().getDouble(0)
    // baseline first: the same cached-frame scan + a trivial projection
    // (no levenshtein) — subtract it from both variants to isolate the
    // confirm expression's own per-pair cost
    val variants = Seq[(String, org.apache.spark.sql.Column)](
      ("baseline", (length(col("a")) + length(col("b"))).cast("int") * 0),
      ("banded_native",
        graft.expressions.TextExpressions.levenshteinBanded(
          col("a"), col("b"), 10)),
      ("banded_spark", levenshtein(col("a"), col("b"), 10)),
      ("full_matrix", levenshtein(col("a"), col("b"))))
    variants.foreach { case (tag, d) =>
      paired.filter(col("doc_id") < 64) // warm
        .select(d.as("d")).filter(col("d") =!= -2).count()
      val t0 = System.nanoTime()
      val kept = paired.select(d.as("d"))
        .filter(col("d") >= 0 && col("d") <= 10).count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"""{"variant":"$tag","mode":"confirm_only","pairs":$n,""" +
        f""""avg_chars":$avgLen%.0f,"kept":$kept,"wall_sec":$wall%.1f,""" +
        f""""ms_per_pair":${wall * 1000 / n}%.2f}""")
    }
    paired.unpersist()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("confirm")) {
      val nPairs = args.drop(1).headOption.map(_.toLong).getOrElse(2000L)
      val wordsMin = args.drop(2).headOption.map(_.toInt).getOrElse(2300)
      val wordsMax = args.drop(3).headOption.map(_.toInt).getOrElse(2600)
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = graft.core.Graft.session("graft-levband", s"local[$cpus]")
      confirmOnly(spark, nPairs, wordsMin, wordsMax)
      spark.stop()
      return
    }
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val wordsMin = args.drop(1).headOption.map(_.toInt).getOrElse(2300)
    val wordsMax = args.drop(2).headOption.map(_.toInt).getOrElse(2600)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Graft.session("graft-levband", s"local[$cpus]")
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SMOKE_SCRATCH",
      s"/tmp/graft_levband_${System.getProperty("user.name", "u")}")
    val dir = s"$scratch/docs_long_$nDocs"
    DocSynth.documents(spark, nDocs, wordsMin = wordsMin,
      wordsMax = wordsMax).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val avgChars = docs.selectExpr("avg(n_chars)").first().getDouble(0)
    println(f"""{"corpus":"long_form","n_docs":$nDocs,"avg_chars":$avgChars%.0f}""")

    // JIT/codegen warm on a small slice, both variants, untimed
    Seq(true, false).foreach { b =>
      TextPipeline.editDistancePairsCached(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 2000),
        maxDist = 10, n = 2, maxDf = 10L, bandedConfirm = b)
        .result.count()
      spark.catalog.clearCache()
    }

    Seq(("banded", true), ("full_matrix", false)).foreach { case (tag, b) =>
      spark.catalog.clearCache()
      System.gc()
      val meter = new StageMeter
      spark.sparkContext.addSparkListener(meter)
      val cached = TextPipeline.editDistancePairsCached(docs, maxDist = 10,
        n = 2, maxDf = 10L, bandedConfirm = b)
      val t0 = System.nanoTime()
      val rows = cached.result.count()
      val wall = (System.nanoTime() - t0) / 1e9
      meter.settle()
      spark.sparkContext.removeSparkListener(meter)
      cached.unpersist(blocking = true)
      val snap = meter.stages.synchronized(meter.stages.toSeq)
      val execTotal = snap.map(_._3).sum
      val gcTotal = snap.map(_._4).sum
      val top = snap.sortBy(-_._3).take(5)
      println(f"""{"variant":"$tag","n_docs":$nDocs,"rows":$rows,""" +
        f""""wall_sec":$wall%.1f,"exec_sec":$execTotal%.1f,""" +
        f""""gc_sec":$gcTotal%.1f,"max_stage_exec_sec":${
          top.headOption.map(_._3).getOrElse(0.0)}%.1f}""")
      top.foreach { case (id, ops, exec, gc, tasks) =>
        println(f"  [$tag] stage $id%4d exec $exec%8.1f s  gc $gc%6.1f s  " +
          f"tasks $tasks%4d  " + ops.split(",").take(5).mkString(","))
      }
    }
    spark.stop()
  }
}
