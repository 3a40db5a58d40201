package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameterized read-side query API (SURVEY.md §2.9 Q1-Q13) — the
  * Elasticsearch-DSL surface the reference's web controllers build,
  * re-expressed as DataFrame transforms over the stored result tables.
  *
  * Shapes: bool filter (time range + type term) → bucket aggs → metric.
  * All are single-shuffle groupBys on the bucket keys; ordering is
  * deterministic (`value DESC, key ASC` — the reference's
  * Counter.most_common has insertion-order ties, SURVEY §7.4.6).
  */
object ReadSide {

  /** Epoch-ms column bucketed to `intervalMs` (ES date_histogram). */
  def dateHistogram(tsMs: Column, intervalMs: Long): Column =
    tsMs - pmod(tsMs, lit(intervalMs))

  /** Q1/Q4/Q5/Q9: date_histogram → terms → sum metrics. */
  def timeSeries(df: DataFrame, tsMs: Column, intervalMs: Long,
                 keys: Seq[Column], metrics: Seq[Column]): DataFrame =
    df.groupBy(dateHistogram(tsMs, intervalMs).as("bucket_ms") +: keys: _*)
      .agg(metrics.head, metrics.tail: _*)

  /** Q2: totals over the trailing `lastMs` window (vs. the max ts). */
  def totals(df: DataFrame, tsMs: Column, lastMs: Long,
             metrics: Seq[Column]): DataFrame = {
    val mx = df.agg(max(tsMs).as("__max_ms"))
    df.withColumn("__ts", tsMs)
      .crossJoin(broadcast(mx))
      .filter(col("__ts") >= col("__max_ms") - lastMs)
      .agg(metrics.head, metrics.tail: _*)
  }

  /** Q3: heatmap — group by key, one summed metric, descending. */
  def groupSum(df: DataFrame, key: Column, metric: Column): DataFrame =
    df.groupBy(key.as("key")).agg(sum(metric).as("value"))
      .orderBy(col("value").desc, col("key").asc)

  /** Q6: date_histogram → min/avg/max of a metric. */
  def minAvgMax(df: DataFrame, tsMs: Column, intervalMs: Long,
                metric: Column): DataFrame =
    df.groupBy(dateHistogram(tsMs, intervalMs).as("bucket_ms"))
      .agg(min(metric).as("min"), round(avg(metric), 4).as("avg"),
        max(metric).as("max"))

  /** Q7/Q8: `data_array` nested top-N — explode the array-of-struct and
    * rank by summed value (the ES nested terms+sum dual). */
  def nestedTopN(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("@stat_type").as("stat_type"),
        explode(col("data_array")).as("kv"))
      .groupBy(col("stat_type"), col("kv.key").as("key"))
      .agg(sum("kv.value").as("value"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("stat_type")
          .orderBy(col("value").desc, col("key").asc)))
      .filter(col("rank") <= n)

  /** Q10/T4: latest document per group. */
  def latestPerGroup(df: DataFrame, keys: Seq[Column], tsMs: Column,
                     tieBreak: Column): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(tsMs.desc, tieBreak.desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Q12: distinct-count of one column per group key. */
  def distinctCount(df: DataFrame, key: Column, counted: Column): DataFrame =
    df.groupBy(key.as("key")).agg(count_distinct(counted).as("value"))

  /** Q12 from a persisted sketch layer (see [[graft.scale.Sketches]]):
    * the same per-key distinct count answered by unioning pre-built HLL
    * sketches — no raw-row rescan. `layer` is a
    * [[graft.scale.Sketches.buildLayer]] output whose keys include
    * `key`. */
  def distinctCountSketched(layer: DataFrame, key: Column): DataFrame =
    graft.scale.Sketches.rollup(layer, Seq(key.as("key")))
      .withColumnRenamed("distinct_est", "value")
}
