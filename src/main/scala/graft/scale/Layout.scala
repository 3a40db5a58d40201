package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering so parquet
  * row-group/file min-max statistics prune on SEVERAL columns at once.
  *
  * A linear sort gives perfect skipping on its leading column and none on
  * the others. Interleaving the bits of k columns into one Morton key and
  * range-partitioning + sorting by it keeps rows that are close in EVERY
  * dimension physically together, so each file covers a small hyper-box
  * of the key space — a scan with predicates on any subset of the k
  * columns skips the files whose box misses the predicate. At 100 TB this
  * is the difference between reading the whole table and reading a few
  * percent of it for point/range lookups on secondary dimensions; it is
  * the same technique Delta's OPTIMIZE ZORDER BY applies.
  *
  * Pure layout: the transform only reorders rows (oracle-checked by
  * q_zorder_key against DuckDB computing the same interleave in SQL), so
  * every query stays correct whether or not the table was z-ordered.
  */
object Layout {

  /** Add a `zkey` Morton key over numeric `cols`, min-max scaled to
    * `bits` bits per dimension. The min/max pass is one metadata-sized
    * aggregate (a single row to the driver — same cost class as a
    * broadcast threshold decision). Constant columns scale to 0. */
  def zorderKey(df: DataFrame, cols: Seq[String], bits: Int = 16): DataFrame = {
    val span = (1L << bits) - 1
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__lo_$c"),
      max(col(c)).cast("double").as(s"__hi_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val scaled = cols.map { c =>
      // boxed reads: min/max over an EMPTY frame are null, and a
      // primitive getAs would NPE instead of degrading to zkey=0
      val lo0 = r.getAs[java.lang.Double](s"__lo_$c")
      val hi0 = r.getAs[java.lang.Double](s"__hi_$c")
      val (lo, hi) =
        (if (lo0 == null) 0.0 else lo0.doubleValue,
          if (hi0 == null) 0.0 else hi0.doubleValue)
      if (hi <= lo) lit(0L)
      else least(lit(span),
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * span)
          .cast("long"))
    }
    // the native z_key expression: one node, a tight codegen loop
    df.withColumn("zkey",
      graft.expressions.LayoutExpressions.zKey(scaled, bits))
  }

  /** Rows re-clustered on the Morton key over `cols`: range-partitioned
    * (so files tile the z-curve without overlap) and sorted within each
    * partition (so row groups tile it too). Write the result and every
    * min-max-pruned scan on any of `cols` skips non-intersecting files.
    * Row content is untouched. */
  def zorder(df: DataFrame, cols: Seq[String], partitions: Int,
             bits: Int = 16): DataFrame =
    zorderKey(df, cols, bits)
      .repartitionByRange(partitions, col("zkey"))
      .sortWithinPartitions("zkey")
      .drop("zkey")
}
