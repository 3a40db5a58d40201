package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.TextExpressions

/** Explode+window winnowing reference — a verification fixture for
  * [[graft.pipeline.TextPipeline.winnowFingerprintsNative]], NOT part of
  * the engine. Written the way the SQL oracle computes it: posexplode the
  * 47-bit k-gram hashes, take a plain per-doc `min` window over
  * `hash·2¹⁶ + (2¹⁶-1-pos)` (rightmost-min on ties), keep full windows
  * only, decode and dedup. Same (doc_id, pos, fp) contract as the native
  * tier, so the parity properties compare the two row sets exactly. */
object RefWinnow {

  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "winnow: k and w must be >= 1")
    val posCap = 1 << 16
    val g = docs
      .select(col("doc_id"), TextExpressions.polyHash47(
        TextExpressions.wordShingles(col("text"), k, distinct = false)).as("hashes"))
      .select(col("doc_id"), posexplode(col("hashes")))
      .withColumnRenamed("pos", "gpos").withColumnRenamed("col", "h")
    val win = Window.partitionBy("doc_id").orderBy("gpos")
      .rowsBetween(-(w - 1), Window.currentRow)
    g.withColumn("combined", col("h") * posCap + (lit(posCap - 1) - col("gpos")))
      .withColumn("sel", min(col("combined")).over(win))
      .filter(col("gpos") >= w - 1) // only full windows select
      .select(col("doc_id"),
        (lit(posCap - 1) - (col("sel") % posCap)).cast("int").as("pos"),
        shiftrightunsigned(col("sel"), 16).as("fp"))
      .distinct()
  }
}
