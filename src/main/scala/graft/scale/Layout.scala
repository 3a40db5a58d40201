package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
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

  /** Morton key: interleave the low `bits` bits of each column, first
    * column at the lowest bit position. Inputs must already be
    * non-negative and fit `bits` bits (use [[zorderKey]] for the general
    * min-max-scaled form); `bits * cols.size` must stay under 64. Pure
    * shift/mask composition — whole-stage codegen keeps it in the scan. */
  def interleaveBits(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "interleaveBits needs at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"bits=$bits over ${cols.size} columns exceeds a long")
    val n = cols.size
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, i)) =>
        a.bitwiseOR(shiftleft(
          shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i))
      }
    }
  }

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
    // hot path: the native z_key expression (one node, tight codegen
    // loop) — spec-pinned equal to the composed interleaveBits
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

  /** One row per data file of a parquet table (recursive, skips
    * metadata): path, parent partition dir, bytes. Driver-side listing —
    * file metadata, not data. */
  def fileInventory(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet"))
        out += ((st.getPath.toString,
          st.getPath.getParent.toString.stripPrefix(root.toString)
            .stripPrefix("/"), st.getLen))
    }
    walk(root)
    import spark.implicits._
    out.toSeq.toDF("path", "partition", "bytes")
  }

  /** Small-file report per partition dir: how many files sit under
    * `smallBytes`, their total volume, and the target file count a
    * compaction to `targetBytes` would produce. The operational trigger
    * for [[compactPartitions]] — a store that accumulates streaming
    * micro-batch or upsert output degrades scan throughput long before
    * it degrades correctness. */
  def compactionReport(spark: org.apache.spark.sql.SparkSession, dir: String,
                       smallBytes: Long = 32L << 20,
                       targetBytes: Long = 128L << 20): DataFrame = {
    val inv = fileInventory(spark, dir)
    inv.groupBy("partition")
      .agg(count(lit(1)).as("files"),
        sum(when(col("bytes") < smallBytes, 1L).otherwise(0L)).as("small_files"),
        sum("bytes").as("total_bytes"),
        greatest(lit(1L), ceil(sum("bytes") / targetBytes.toDouble))
          .as("target_files"))
      .filter(col("small_files") > 1)
  }

  /** Rewrite the listed partition dirs with ~`targetBytes` files each:
    * read ONLY those partitions' files, coalesce to the target count,
    * write to a temp sibling, then swap atomically per partition (rename
    * away, rename in, delete). Value-neutral; partitions not listed are
    * untouched. Pair with [[compactionReport]] for the candidate list. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, dir: String,
                        partitions: Seq[String],
                        targetBytes: Long = 128L << 20): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // If a prior compaction crashed between swap renames, the partition
    // dir is missing and .old_<name> holds the rows — restore before
    // listing (listStatus on the missing dir would fail loudly, but
    // resumably rolling back is strictly better). Recovery is scoped to
    // THIS store: the whole-store entry (part = "") recovers only its
    // own .old_<root> sibling — sweeping the root's PARENT would rename
    // or delete .old_* entries of unrelated sibling stores, racing any
    // concurrent rewriteAtomically between its two renames — and the
    // partitioned entries sweep each distinct parent dir INSIDE the
    // store once, not once per partition.
    val pdirOf = (part: String) =>
      if (part.isEmpty) root else new Path(root, part)
    val (wholeStore, subParts) = partitions.partition(_.isEmpty)
    if (wholeStore.nonEmpty) Stores.recoverOwnSwap(fs, root)
    subParts.map(p => pdirOf(p).getParent).distinct
      .foreach(d => Stores.recoverInterruptedSwaps(fs, d))
    partitions.foreach { part =>
      val pdir = pdirOf(part)
      val files = fs.listStatus(pdir).filter(s =>
        !s.isDirectory && s.getPath.getName.endsWith(".parquet"))
      if (files.length > 1) {
        val n = math.max(1L,
          math.ceil(files.map(_.getLen).sum / targetBytes.toDouble).toLong).toInt
        val tmp = new Path(pdir.getParent, s".compact_${pdir.getName}")
        spark.read.parquet(files.map(_.getPath.toString): _*)
          .coalesce(n)
          .write.mode("overwrite").parquet(tmp.toString)
        Stores.swapPartition(fs, pdir, tmp) // rename-checked atomic swap
      }
    }
  }
}
