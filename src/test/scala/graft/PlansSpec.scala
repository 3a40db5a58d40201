package graft

import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("Curation plans: benchmark side broadcasts; chunk and mix are shuffle-free") {
    import graft.pipeline.Curation
    // a range source, not a LocalRelation: a Seq-backed frame's
    // row-local plan would be folded into a LocalTableScan
    val id = col("id")
    val docs = spark.range(100L).select(id.as("doc_id"),
      concat(lit("w"), id % 7, lit(" w"), (id + 1) % 7, lit(" w"), (id + 2) % 7,
        lit(" w"), (id + 3) % 7, lit(" tail"), id).as("text"),
      concat(lit("src"), id % 3).as("source"))
    val bench = docs.filter(col("doc_id") % 10 === 0)
    // the benchmark's shingle set rides a broadcast inside the overlap
    // expression: no join, no aggregate, no exchange on the corpus side
    for (df <- Seq(Curation.contamination(docs, bench, 3),
                   Curation.decontaminate(docs, bench, 3))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("shingle_overlap"), plan)
      assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    }
    // chunking explodes in place — one pass, no shuffle
    assert(!Curation.chunk(docs, 8, 8)
      .queryExecution.executedPlan.toString.contains("Exchange"))
    // mixing is a pure filter on a deterministic hash — pushes to the scan
    assert(!Curation.sampleBySource(docs, Map("src0" -> 0L))
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("PQ plans: codebook and query table broadcast; vocab cut is TakeOrdered") {
    import graft.pipeline.{Similarity, TextPipeline}
    val emb = (0L until 64L).map(i => (i, Seq.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val pq = Similarity.annPq(emb, emb.filter(col("vec_id") < 2),
      m = 4, ksub = 4, k = 3).queryExecution.executedPlan.toString
    // ADC never shuffles embeddings: codebook + query table are broadcast,
    // the only exchange is the (query, nbr) partial-agg sum
    assert(pq.contains("BroadcastHashJoin"))
    assert(!pq.contains("CartesianProduct") && !pq.contains("SortMergeJoin"))
    val vocabPlan = TextPipeline.vocab(
      Seq((1L, "a b c")).toDF("doc_id", "text"), 10)
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject")) // no corpus-wide sort
  }
}
