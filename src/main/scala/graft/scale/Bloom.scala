package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter semi-join pruning: cut a huge relation down to (roughly)
  * the rows that can match a much smaller key set BEFORE any shuffle
  * touches the big side.
  *
  * This is the pattern Spark's own `InjectRuntimeFilter` applies to
  * shuffle joins (a `BloomFilterAggregate` subquery on the small side, a
  * `BloomFilterMightContain` filter on the big side) — exposed here as an
  * explicit operator, because the optimizer rule only fires on equi-joins
  * it can see whole, and multi-step pruning opportunities (a probe in
  * front of an explode → join) are shapes the rule never matches.
  *
  * Both expressions are the native Catalyst ones (codegen'd, evaluated at
  * the scan): the filter is one xxhash64 + a few bit probes per row, so
  * at 100 TB the non-matching fraction of the corpus — almost all of it —
  * never reaches the exchange. False positives are possible (bounded by
  * `fpp`), false negatives are not, so composing prune → exact join keeps
  * results EXACTLY equal to the un-pruned plan (ScaleSpec pins the
  * semi/anti joins against the plain ones).
  *
  * The filter itself is built with one aggregate job on the small side
  * and carried as a binary literal (MBs — same size class a broadcast
  * hash join would ship; `spark.stat.bloomFilter` does the same collect).
  */
object Bloom {

  /** Aggregate column building a bloom filter (binary blob) over
    * `xxhash64(key)` with `expectedItems` capacity at `fpp`. */
  def bloomAgg(key: Column, expectedItems: Long, fpp: Double = 0.01): Column = {
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    ColumnBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(ColumnBridge.expression(key))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
  }

  /** Build the filter over `df`'s `key` values and return the serialized
    * blob. `expectedItems <= 0` counts the (small) side first. An EMPTY
    * `df` yields a valid contains-nothing filter — the aggregate alone
    * would return NULL there, and a null blob nulls every probe, which
    * silently empties antiJoin (everything should pass) as well as
    * semiJoin.
    *
    * `BloomFilterAggregate` SILENTLY clamps its capacity to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4M items / 8 MB): past the clamp there are still no false
    * negatives, but the realized fpp degrades far above the requested one
    * and pruning can collapse — exactly where the bloom path matters
    * (a small side that outgrew broadcast). Fail loudly instead: raise
    * the two confs for genuinely large builds. */
  def build(df: DataFrame, key: Column, expectedItems: Long = 0L,
            fpp: Double = 0.01): Array[Byte] = {
    val n = if (expectedItems > 0L) expectedItems else df.count()
    val conf = df.sparkSession.conf
    val maxItems = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    val maxBits = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    val wantBits = BloomFilter.optimalNumOfBits(math.max(n, 1L), fpp)
    require(n <= maxItems && wantBits <= maxBits,
      s"bloom build of $n items / $wantBits bits would be silently clamped " +
        s"to $maxItems items / $maxBits bits (realized fpp >> $fpp); raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits")
    val blob = df.agg(bloomAgg(key, math.max(n, 1L), fpp).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    if (blob != null) blob
    else {
      val bos = new java.io.ByteArrayOutputStream()
      BloomFilter.create(1L, fpp).writeTo(bos)
      bos.toByteArray
    }
  }

  /** Codegen'd membership probe of `key` against a built filter. True for
    * every present key; true with probability ~fpp for absent ones. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      new XxHash64(Seq(ColumnBridge.expression(key)))))

  /** `large` cut to rows whose `largeKey` might appear among `smallKey`
    * values: a SUPERSET of the semi-join (false positives only), with no
    * shuffle or join on the big side. Compose with the exact join for
    * exact results; use alone where fpp-rate overshoot is acceptable. */
  def prune(large: DataFrame, largeKey: Column,
            small: DataFrame, smallKey: Column,
            fpp: Double = 0.01): DataFrame =
    large.filter(mightContain(build(small, smallKey, fpp = fpp), largeKey))

  /** Exact left-semi join with the big side bloom-pruned first. Same
    * rows as `large.join(small, keys, "left_semi")`; the exact join —
    * and its shuffle, when `small` outgrows broadcast — sees only the
    * matching fraction (+fpp) of `large`. */
  def semiJoin(large: DataFrame, small: DataFrame, largeKey: String,
               smallKey: String, fpp: Double = 0.01): DataFrame =
    prune(large, col(largeKey), small, col(smallKey), fpp)
      .join(small.select(col(smallKey).as(largeKey)).distinct(),
        Seq(largeKey), "left_semi")

  /** Exact left-anti join where only the bloom-POSITIVE rows pay the
    * exact check: a definite bloom miss proves absence from `small`, so
    * those rows pass straight through; the positives (matches + fpp)
    * are confirmed by the real anti-join.
    *
    * Cost shape: `large` is SCANNED twice (once per branch of the
    * union) but SHUFFLED at most once and only for the positive
    * fraction — the right trade at scale, where a columnar scan is
    * cheap and the exchange is the cost. Persist `large` first if its
    * upstream is expensive to recompute.
    *
    * CORRECTNESS requires `large` to be DETERMINISTIC under
    * re-evaluation (same requirement IncrementalDedup's snapshot note
    * states for its stores): the two branches evaluate `large`
    * independently, so a nondeterministic upstream (rand/sample without
    * a pinned seed+partitioning, a source appended to mid-query) can
    * disagree between branches and silently drop or duplicate rows.
    * For such inputs, `persist`/`localCheckpoint` `large` before
    * calling. */
  def antiJoin(large: DataFrame, small: DataFrame, largeKey: String,
               smallKey: String, fpp: Double = 0.01): DataFrame = {
    val bloom = build(small, col(smallKey), fpp = fpp)
    val mc = mightContain(bloom, col(largeKey))
    large.filter(!mc).unionByName(
      large.filter(mc).join(
        small.select(col(smallKey).as(largeKey)).distinct(),
        Seq(largeKey), "left_anti"))
  }
}
