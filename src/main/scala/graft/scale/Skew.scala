package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: parallelism guards for narrow scans, hot-key pair
  * tiling and a shuffle-free-plan check.
  *
  * AQE (enabled in Graft.tune) already splits skewed SHUFFLE JOIN
  * partitions at runtime; these helpers cover the cases it doesn't: a
  * scan too narrow for the per-row work behind it, and a same-key
  * self-join whose hot key owns a quadratic share of the output.
  */
object Skew {

  /** Parallelism guard for CPU-heavy derivations over a NARROW scan: if
    * the input plans fewer partitions than `parts` (a single parquet
    * row group is unsplittable, so a small file scans as ONE task no
    * matter how many cores idle), round-robin repartition it; otherwise
    * return it unchanged. The check reads `df.rdd`: over a plan with no
    * exchange (a scan and row-local derivations of it) that is
    * driver-side planning only and no job runs, but under AQE it
    * materializes every shuffle and broadcast stage below the final one,
    * one job each, and the caller's own action later runs them again —
    * so guard scans, not joins or aggregates. At corpus scale the scan
    * is already wide, the guard is a
    * no-op, and the text shuffle it would imply never happens; at test
    * scale the shuffled bytes are megabytes and the downstream
    * per-row compute (shingling, hashing, chunking) is the cost being
    * spread. Use it where the work per input row dwarfs the row's
    * size — never as a default on plain scans. */
  def ensureMinParallelism(df: DataFrame, parts: Int): DataFrame =
    if (df.rdd.getNumPartitions >= math.min(parts,
      df.sparkSession.sparkContext.defaultParallelism)) df
    else df.repartition(parts)

  /** [[ensureMinParallelism]] hash-partitioned on `byCols` (pass a
    * high-cardinality key): round-robin repartition locally SORTS each
    * input partition first (`spark.sql.execution.sortBeforeRepartition`,
    * needed for deterministic retries) — dead weight when a stable
    * partitioning key exists, since hash repartition is retry-safe
    * without it. Same probe, so the same cost: no job over a plan with
    * no exchange, one job per stage below the final one under AQE. */
  def ensureMinParallelism(df: DataFrame, parts: Int,
                           byCols: Seq[Column]): DataFrame =
    if (df.rdd.getNumPartitions >= math.min(parts,
      df.sparkSession.sparkContext.defaultParallelism)) df
    else df.repartition(parts, byCols: _*)

  /** [[ensureMinParallelism]] with the input's partition count supplied
    * by the caller: the `.rdd.getNumPartitions` probe physically plans
    * `df` (~60 ms of driver latency) and, under AQE, runs every stage
    * below the final one, for an answer callers over immutable files can
    * memoize across calls. This form runs no probe and no job. */
  def ensureMinParallelismKnown(df: DataFrame, currentParts: Int,
                                parts: Int, byCols: Seq[Column]): DataFrame =
    if (currentParts >= math.min(parts,
      df.sparkSession.sparkContext.defaultParallelism)) df
    else df.repartition(parts, byCols: _*)

  /** True iff the executed plan of `joined` contains no hash-partitioning
    * exchange — e.g. a join of tables bucketed the same way on its key
    * (ScaleSpec asserts bucketed joins through it). */
  def hasNoShuffle(joined: DataFrame): Boolean =
    !joined.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Same-key pair generation (`a < b`) with 2-D tiling of hot keys —
    * the d² decomposition for bucket self-joins that AQE cannot help
    * with: when one key holds d rows, ALL d² output pairs must be
    * produced by the single reducer owning that key (skew-join splitting
    * redistributes INPUT rows, not the join's output explosion; measured:
    * a degenerate LSH bucket serialized a 2M-pair generation into one
    * 9 s task on an otherwise idle 32-core machine).
    *
    * Keys with more than `targetTile` rows are split into
    * T = ceil(d / targetTile) tiles by row position; the pair space
    * becomes the T(T+1)/2 tile pairs (i ≤ j), each an independent join
    * key with ≤ targetTile² output pairs, so the work spreads over the
    * cluster. Side A carries a row to tiles (t, j ≥ t), side B to
    * (i ≤ t, t): a cross-tile pair meets exactly once (orientation fixed
    * with least/greatest), a within-tile pair meets in both orientations
    * and the `a < b` filter keeps one. Replication factor is
    * (T+1)/2 per side FOR HOT-KEY ROWS ONLY — cold keys (T = 1) pass
    * through unreplicated. Output equals the naive
    * `a.key = b.key && a.id < b.id` self-join exactly (spec-pinned);
    * pairs sharing several keys still need the caller's distinct.
    *
    * This is recall-lossless parallelism — when dropping hot buckets is
    * acceptable, the `maxBucket`/`maxDf` caps are cheaper (no d² work at
    * all); tiling is for when every pair must be produced.
    *
    * `carry` names payload columns of `rows` to ride along into the
    * pair output as `a_<col>` / `b_<col>` (each the named column of the
    * pair's a/b row, orientation-corrected). Carrying a small fixed-width
    * payload (a signature long) lets the caller CONFIRM pairs inside the
    * tile join instead of re-attaching the payload with two pair-keyed
    * joins afterwards — at pair volumes the two joins are the dominant
    * shuffle (guide §2.3: decide with the bytes already in hand, don't
    * re-ship them per pair). */
  def tiledPairs(rows: DataFrame, idCol: String, keyCol: String,
                 targetTile: Long, carry: Seq[String] = Nil): DataFrame = {
    require(targetTile >= 1, "targetTile must be >= 1")
    val tileCounts = rows.groupBy(keyCol)
      .agg(count(lit(1)).as("__d"))
      .filter(col("__d") > targetTile)
      .select(col(keyCol),
        ceil(col("__d").cast("double") / targetTile).cast("int").as("__tiles"))
    val withTile = rows
      .join(broadcast(tileCounts), Seq(keyCol), "left")
      .withColumn("__tiles", coalesce(col("__tiles"), lit(1)))
      // Tile assignment is a deterministic HASH of the id, not a row
      // position: the meet-exactly-once guarantee below only needs SOME
      // deterministic t(row) ∈ [0, __tiles) — a pair (ta ≤ tb) meets at
      // tile-pair (ta, tb) via sideA's (ta, ·≥ta) × sideB's (·≤tb, tb)
      // regardless of how t was drawn. The positional row_number this
      // replaces needed a key-partitioned WINDOW — one full extra
      // shuffle + per-key sort of the bucket frame, paid by every hot
      // key, bought only perfectly-equal tile sizes; the hash gives the
      // same expected balance with binomial variance at targetTile
      // granularity. Pair set unchanged (spec-pinned vs the naive join).
      .withColumn("__t", pmod(xxhash64(col(idCol)), col("__tiles")))
    val sideA = withTile.select(Seq(col(keyCol), col(idCol).as("__a"),
        col("__t").as("__ti"),
        explode(sequence(col("__t"), col("__tiles") - 1)).as("__tj")) ++
      carry.map(c => col(c).as(s"__a_$c")): _*)
    val sideB = withTile.select(Seq(col(keyCol), col(idCol).as("__b"),
        explode(sequence(lit(0), col("__t"))).as("__ti"),
        col("__t").as("__tj")) ++
      carry.map(c => col(c).as(s"__b_$c")): _*)
    // The tiles only help if the join actually RUNS with many partitions.
    // AQE coalesces planner shuffles by INPUT bytes — a few MB of band
    // keys collapse to one partition even though the join's OUTPUT
    // explodes to millions of pairs there. An explicit numPartitions
    // repartition (REPARTITION_BY_NUM origin) is exempt from coalescing
    // and satisfies the join's required distribution, so the tile-pair
    // keys really do spread over the cluster.
    val parts = rows.sparkSession.sessionState.conf.numShufflePartitions
    val joinKeys = Seq(col(keyCol), col("__ti"), col("__tj"))
    // a/b are least/greatest of the meeting's two ids; the carried
    // payloads swap under the same condition so a_<col> is always the
    // payload of the row whose id became `a`
    val fwd = col("__a") < col("__b")
    sideA.repartition(parts, joinKeys: _*)
      .join(sideB.repartition(parts, joinKeys: _*), Seq(keyCol, "__ti", "__tj"))
      .filter(col("__ti") =!= col("__tj") || col("__a") < col("__b"))
      .select(Seq(least(col("__a"), col("__b")).as("a"),
        greatest(col("__a"), col("__b")).as("b")) ++
        carry.flatMap(c => Seq(
          when(fwd, col(s"__a_$c")).otherwise(col(s"__b_$c")).as(s"a_$c"),
          when(fwd, col(s"__b_$c")).otherwise(col(s"__a_$c")).as(s"b_$c"))): _*)
  }
}
