package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches — the pre-aggregation layer the
  * reference delegates to Elasticsearch's `cardinality` aggregation
  * (`web-interface/Stream4Flow/controllers/` distinct-victim counts) and
  * [[graft.queries.ReadSide.distinctCount]] answers exactly.
  *
  * Exact distincts need the raw rows again for every new grouping; a
  * sketch layer is built ONCE per fine bucket (key × day), persisted as a
  * small binary column, and any coarser question — distinct users over an
  * arbitrary day range, per key, or globally — is a union of sketches.
  * At 100 TB that converts a full-corpus shuffle per dashboard query into
  * a scan of a metadata-sized sketch table; the daily build itself is one
  * hash aggregate with map-side partial sketches (`hll_sketch_agg` is an
  * ObjectHashAggregate, partials combine before the exchange).
  *
  * Uses Spark's native Apache DataSketches HLL functions
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`, Spark
  * 3.5+): deterministic for a given input multiset, union is
  * order-insensitive (register-wise max), so incremental daily appends
  * and backfills commute — the property a persisted layer needs.
  * Relative error ≈ 1.04/√2^lgK (~1.6% at the default lgK=12); sketches
  * are exact in coupon mode until a bucket's cardinality approaches
  * ¾·2^(lgK−3) (≈384 at lgK=12), estimating beyond.
  * Complements `approx_count_distinct` (e.g.
  * [[graft.streaming.StreamingAnalytics.hostStats]]), whose HLL++ state is plan-internal and
  * cannot be persisted or re-unioned across runs.
  */
object Sketches {

  /** The persisted sketch layer: one row per fine bucket with a binary
    * HLL sketch of `counted`. Write this to parquet partitioned by the
    * time bucket; rebuild only new buckets on append. */
  def buildLayer(df: DataFrame, keys: Seq[Column], counted: Column,
                 lgK: Int = 12): DataFrame =
    df.groupBy(keys: _*)
      .agg(hll_sketch_agg(counted, lit(lgK)).as("sketch"))

  /** Roll a sketch layer up to coarser keys (a subset of the layer's key
    * columns, or expressions over them): union the bucket sketches per
    * group and estimate. No raw data is touched. */
  def rollup(layer: DataFrame, keys: Seq[Column]): DataFrame =
    layer.groupBy(keys: _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true)))
        .as("distinct_est"))

  /** Rolled-up sketches kept AS sketches (for a second-level layer or
    * further incremental unions) rather than collapsed to estimates. */
  def rollupSketches(layer: DataFrame, keys: Seq[Column]): DataFrame =
    layer.groupBy(keys: _*)
      .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))

  /** Estimate column for a sketch layer (attach to a layer or a rollup
    * kept as sketches). */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** Estimated |A ∩ B| from two sketches via inclusion–exclusion
    * (HLL unions exactly but cannot intersect; the difference of three
    * estimates inherits their error, so intersections much smaller than
    * the union are noise — fine for retention-sized overlaps, wrong for
    * needle-in-haystack ones). */
  def intersectEstimate(a: Column, b: Column): Column =
    greatest(lit(0L),
      hll_sketch_estimate(a) + hll_sketch_estimate(b) -
        hll_sketch_estimate(hll_union(a, b, allowDifferentLgConfigK = true)))

  /** Day-over-day retention from a persisted sketch layer alone: for
    * each consecutive (bucket, next-bucket) pair per key, the estimated
    * returning count |A ∩ B| and the bases — no raw-row rescan. `layer`
    * is a [[buildLayer]] output with `key` and an orderable `bucket`
    * column. */
  def retention(layer: DataFrame, key: Column, bucket: Column): DataFrame = {
    val cur = layer.select(key.as("key"), bucket.as("bucket"),
      col("sketch").as("cur_sketch"))
    val nxt = layer.select(key.as("key"), (bucket - 1).as("bucket"),
      col("sketch").as("next_sketch"))
    cur.join(nxt, Seq("key", "bucket"))
      .select(col("key"), col("bucket"),
        hll_sketch_estimate(col("cur_sketch")).as("base"),
        hll_sketch_estimate(col("next_sketch")).as("next_base"),
        intersectEstimate(col("cur_sketch"), col("next_sketch"))
          .as("returning"))
  }

  // ----- incremental store (LSM-style: append deltas, union at read) ----

  /** Append one batch's fine-bucket sketches to a parquet store. No
    * read-modify-write: deltas accumulate and [[readLayer]] unions them
    * per bucket, so concurrent appenders never race and a re-delivered
    * batch is HARMLESS — HLL union is idempotent (register-wise max), so
    * estimate-level exactly-once falls out without any transaction
    * machinery. [[compact]] bounds read amplification. */
  def ingest(dir: String, batch: DataFrame, keys: Seq[Column],
             counted: Column, lgK: Int = 12): Unit =
    buildLayer(batch, keys, counted, lgK)
      .write.mode("append").parquet(dir)

  /** The store's current layer view: delta sketches compacted to one
    * sketch per fine bucket (grouping on every non-sketch column). */
  def readLayer(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(dir)
    val keyCols = raw.schema.fieldNames.filter(_ != "sketch").map(col)
    rollupSketches(raw, keyCols.toSeq)
  }

  /** Rewrite the store with one sketch per bucket. Value-neutral
    * ([[readLayer]] before == after); run when delta files accumulate.
    * Temp-sibling + atomic swap ([[Stores.rewriteAtomically]]) — an
    * executor loss mid-compact can always recompute from the still-
    * intact source files. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    Stores.rewriteAtomically(spark, dir, readLayer(spark, dir))

  /** `foreachBatch` face for a streaming source: maintain the sketch
    * store from micro-batches. Pair with
    * [[graft.streaming.ResultSink]]-style idempotent sinks; here replays
    * are already value-idempotent (see [[ingest]]). */
  def streamIngest(dir: String, keys: Seq[Column], counted: Column,
                   lgK: Int = 12): (DataFrame, Long) => Unit =
    (batch, _) => ingest(dir, batch, keys, counted, lgK)
}
