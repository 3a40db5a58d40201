package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.TextExpressions
import graft.pipeline.Curation

/** The join-form curation pipeline — the test reference for
  * [[graft.pipeline.Curation.curate]] and its row-local
  * [[graft.pipeline.Curation.contamination]]: each stage is the public
  * operator's output re-joined to the corpus, as the pipeline was first
  * composed.
  *   - repetition: [[Curation.repetitionStats]] ids joined back to the docs;
  *   - dedup: [[Curation.clusterComponents]]' `doc_id == component` rows
  *     (or [[Curation.clusterDedupBest]] under `keepBest`) joined back;
  *   - decontamination: doc shingles exploded, broadcast-joined to the
  *     distinct benchmark shingle set, counted per doc, anti-joined. */
object RefCurate {

  def contamination(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    def shingles(d: DataFrame) =
      explode(TextExpressions.wordShingles(d("text"), n, distinct = true)).as("shingle")
    val benchShingles = benchmark.select(shingles(benchmark)).distinct()
    docs.select(col("doc_id"), shingles(docs))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("overlap_ngrams"))
  }

  def curate(docs: DataFrame, benchmark: DataFrame, maxDupWordFrac: Double,
             ratesPpm: Map[String, Long], keepBest: Option[Column],
             n: Int = 3, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    val keptIds = Curation.repetitionStats(docs)
      .filter(col("dup_word_frac") <= maxDupWordFrac).select("doc_id")
    val kept = docs.join(keptIds, Seq("doc_id"))
    val survivors = keepBest match {
      case None => Curation.clusterComponents(kept, n)
        .filter(col("doc_id") === col("component")).select("doc_id")
      case Some(score) => Curation.clusterDedupBest(kept, score, n)
    }
    val deduped = kept.join(survivors, Seq("doc_id"))
    val bad = contamination(deduped, benchmark, n).select("doc_id")
    val clean = deduped.join(bad, Seq("doc_id"), "left_anti")
    Curation.chunk(Curation.sampleBySource(clean, ratesPpm), chunkSize, stride)
  }
}
