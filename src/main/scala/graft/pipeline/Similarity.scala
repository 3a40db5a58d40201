package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, StructField, StructType}
import graft.expressions.{VectorExpressions => Vec}
import graft.functions.VectorFunctions

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: LSH bucketing
  * via random-hyperplane signs so only same-bucket pairs are scored —
  * candidate generation is an equi-join on the bucket key, turning the
  * O(Q·N) scan into O(Σ bucket²). Distance math on the hot paths is the
  * native codegen'd [[graft.expressions.VectorExpressions]] tier (Spark
  * evaluates zip_with/aggregate lambdas interpreted); the
  * [[graft.functions.VectorFunctions]] composites remain the portable
  * reference tier, spec-pinned byte-identical. Embeddings are cast to
  * double once up front.
  */
object Similarity {

  private[pipeline] def asDouble(c: org.apache.spark.sql.Column) = c.cast("array<double>")

  /** The embedding column in its NATIVE element type when that is
    * float32 or float64, cast to array<double> otherwise. The native
    * kernels ([[graft.expressions.VectorExpressions]]) read either
    * element type with double accumulation — float→double widening is
    * IEEE exact, so results are bit-identical to casting first — which
    * lets the corpus-sized hot paths keep vectors at 4 bytes/component
    * through persists and shuffles instead of materializing an fp64
    * copy per row per pass (the r18 1M-vector GC attribution:
    * q_hybrid_dedup spent 701 task-summed GC seconds on a 260 s wall at
    * 2 GB/core, dominated by cast copies + doubled cache residency).
    * Operators whose math runs through COMPOSITE lambdas (zip_with /
    * aggregate — where float arithmetic would stay float and diverge)
    * keep [[asDouble]]. */
  private[pipeline] def asVec(df: DataFrame, name: String = "embedding"): Column =
    df.schema(name).dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => col(name)
      case _ => asDouble(col(name))
    }

  /** Exact top-k cosine neighbors for each query vector.
    * The queries side is broadcast (small); ranking is per-query via a
    * window function, ties broken by neighbor id. */
  def knnBruteForce(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val base = embeddings.select(col("vec_id").as("nbr_id"),
      asVec(embeddings).as("nbr_vec"))
    val q = queries.select(col("vec_id").as("query_id"),
      asVec(queries).as("query_vec"))
    base.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        round(Vec.cosine(col("query_vec"), col("nbr_vec")), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cosine", "rank")
  }

  /** Symmetric per-vector int8 quantization: `scale = max|v| / 127`,
    * `code[i] = round(v[i] / scale)` — 1 byte per dimension instead of
    * 4, the standard compression tier between full-precision and PQ
    * (codes stay per-dimension, so integer dot products replace float
    * ones exactly; PQ goes further but needs a codebook). Zero vectors
    * quantize to all-zero codes with scale 0. Codes are emitted as
    * array<int> for engine portability — a production store casts them
    * to tinyint on write. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scale", array_max(transform(col("v"), abs(_))) / 127.0d)
      .select(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") === 0.0d, lit(0))
            .otherwise(round(x / col("scale")).cast("int"))).as("codes"))

  /** Brute-force top-k cosine over int8-quantized vectors: the dot
    * product is EXACT integer arithmetic over the codes (≤ 127²·dims,
    * nowhere near long overflow), norms derive from the same integer
    * dots, and only the final ratio touches floating point — so the
    * ranking is reproducible across engines and partition orders, like
    * the PQ tier's fixed-point ADC. Same output contract as
    * [[knnBruteForce]]; cosine here is cosine of the QUANTIZED vectors
    * (the quantization error is the operator's accuracy trade). */
  def knnInt8(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def quant(df: DataFrame, id: String, qc: String) =
      quantizeInt8(df).select(col("vec_id").as(id),
        transform(col("codes"), _.cast("long")).as(qc))
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    val base = quant(embeddings, "nbr_id", "nq")
    val q = quant(queries, "query_id", "qq")
    base.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("d", idot(col("qq"), col("nq")))
      .withColumn("na", sqrt(idot(col("qq"), col("qq")).cast("double")))
      .withColumn("nb", sqrt(idot(col("nq"), col("nq")).cast("double")))
      .withColumn("cosine", round(
        when(col("na") * col("nb") === 0.0d, 0.0d)
          .otherwise(col("d") / (col("na") * col("nb"))), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed integer hash mapped to [-1, 1). Portable arithmetic (same
    * formula is SQL-expressible for oracles).
    *
    * The quadratic second round matters: the affine draw alone
    * (i·K1 + pl·K2 mod 2²⁰) makes adjacent planes differ by the SAME
    * constant at every dim, so projections drift smoothly across planes
    * and a band's sign-substring collapses into ~planes monotone run
    * patterns instead of 2^perBand keys (measured r18: top benign
    * 16-bit band buckets held 1.5-2.4k of 100k vectors, keys like
    * 0000000011111111 — a quadratic candidate blowup at corpus scale).
    * The triangular number h1·(h1+1)/2 mod 2²⁰ is non-affine in
    * (i, pl), overflow-safe (h1 < 2²⁰ → product < 2⁴⁰, and the product
    * is always even so /2 is exact), and keeps both engine faces exact.
    * The /2 matters for resolution: h1·(h1+1) is always even, so
    * WITHOUT it the hash mod 2²⁰ only ever took 2¹⁹ even values —
    * half the intended component resolution (r18 ADVICE). Any change
    * here must land IN LOCK-STEP on LshUtil.planeSign (native codegen)
    * and the three oracle-SQL sites in SparkEntry (grep 40503). */
  private def planeComponent(plane: Int, dim: org.apache.spark.sql.Column) = {
    val h1 = pmod(dim * 2654435761L + lit(plane.toLong) * 40503L + 12345L, lit(1048576L))
    val h = pmod(shiftright(h1 * (h1 + 1L), 1), lit(1048576L))
    (h.cast("double") / 524288.0d) - 1.0d
  }

  /** Sign-of-projection LSH bucket key under `planes` hyperplanes —
    * native codegen'd kernel; [[lshBucketComposite]] is the spec-pinned
    * portable twin of the same formula. */
  def lshBucket(vec: org.apache.spark.sql.Column, planes: Int): org.apache.spark.sql.Column =
    Vec.lshBucketKey(vec, planes)

  /** Column-composite twin of [[lshBucket]] (reference tier). */
  def lshBucketComposite(vec: org.apache.spark.sql.Column, planes: Int): org.apache.spark.sql.Column = {
    val signs = (0 until planes).map { pl =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v * planeComponent(pl, i.cast("long"))),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << pl)).otherwise(lit(0L))
    }
    signs.reduce((a, b) => a + b)
  }

  /** Deterministic id scramble used to draw a pseudo-random fixed-size
    * corpus sample: a linear-congruential hash on the id, bounded by a
    * pre-mod so the arithmetic never overflows int64 (SQL-portable for
    * the oracle). */
  private[pipeline] def idScramble(id: org.apache.spark.sql.Column) =
    pmod(pmod(id, lit(1048576L)) * 2654435761L + 40503L, lit(1048576L))

  /** Top-n of the deterministic scrambled-id order, materialized ONCE
    * (TakeOrderedAndProject → driver collect, rows arrive sorted) and
    * re-injected as a local relation. Operators that need several
    * prefixes of this order ([[annIvfPq]]: nlist coarse centroids + ksub
    * codebook rows) derive them all from the one frame with local
    * `limit`s instead of paying a full corpus scan per broadcast side. */
  private[pipeline] def collectedSample(e: DataFrame, n: Int): DataFrame = {
    val top = e.orderBy(idScramble(col("vec_id")).asc, col("vec_id").asc)
      .limit(n)
      .select(col("vec_id").as("cid"), col("vec").as("cvec"))
    e.sparkSession.createDataFrame(
      java.util.Arrays.asList(top.collect(): _*), top.schema)
  }

  /** `(cid, cvec)` local relation from driver-side centroid values —
    * the broadcast side for probe/top-k stages that genuinely need a
    * relation (per-query rank over centroids). */
  private[pipeline] def centroidRelation(
      spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(
      cents.map { case (cid, v) => org.apache.spark.sql.Row(cid, v) }.asJava,
      StructType(Seq(
        StructField("cid", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("cvec", ArrayType(DoubleType), nullable = false))))

  /** A collected vector column value, sanitized: null vectors and
    * vectors with null ELEMENTS become empty (a length mismatch against
    * everything → null distance → the candidate never wins, the exact
    * behavior the relational paths gave them) — `.toArray` on the raw
    * Seq would NPE on the former and silently unbox null to 0.0 on the
    * latter, letting a corrupt centroid win with a wrong score. */
  private def sanitizedVec(r: org.apache.spark.sql.Row, i: Int): Seq[Double] = {
    val raw = if (r.isNullAt(i)) null else r.getSeq[Any](i)
    if (raw == null || raw.contains(null)) Seq.empty[Double]
    // float rows (asVec-preserved corpora) widen exactly; the driver-side
    // centroid/codebook values are the same doubles the cast produced
    else raw.map {
      case d: java.lang.Double => d.doubleValue
      case f: java.lang.Float  => f.toDouble
      case x                   => x.asInstanceOf[Number].doubleValue
    }
  }

  /** The same deterministic sample as driver-side values — for
    * operators that bake the centroids into the projection itself
    * ([[assignByCentroids]]) instead of joining a local relation. A
    * sampled row with a null vector or null elements keeps its slot in
    * the deterministic sample but is [[sanitizedVec]]-emptied, so it
    * can never win. */
  private[graft] def collectedSampleVals(e: DataFrame, n: Int): Seq[(Long, Seq[Double])] =
    e.orderBy(idScramble(col("vec_id")).asc, col("vec_id").asc).limit(n)
      .select(col("vec_id"), col("vec")).collect().toSeq
      .map(r => (r.getLong(0), sanitizedVec(r, 1)))

  /** MAP-ONLY nearest-centroid assignment: `(vec_id, vec, cid, csim)`
    * with the winner computed inside one projection by the native
    * [[graft.expressions.NearestCentroid]] loop expression (centroid
    * table baked in as data; highest rounded cosine, ties to the
    * lowest cid — the exact tie-break of the crossJoin + `max_by`
    * formulation it replaces, and of the oracle's row_number
    * spelling). The centroid set is metadata-sized by construction
    * (nlist), so the coarse stage loses BOTH the broadcast crossJoin
    * fanout (N·nlist intermediate rows) and the `groupBy(vec_id)`
    * shuffle — one narrow pass fused into the scan. (A `greatest` over
    * per-centroid struct columns was measured first: it blows the
    * 64 KB codegen method limit at nlist ≥ ~10 and falls back to
    * interpreted eval, 2× SLOWER than the join — hence the loop
    * expression.) Above `maxExprCentroids` the classic
    * crossJoin + max_by plan takes over (same result, spec-pinned). */
  private[graft] def assignByCentroids(
      e0: DataFrame, cents: Seq[(Long, Seq[Double])],
      maxExprCentroids: Int = 4096): DataFrame = {
    // nlist cosine evaluations per vector dwarf the vector bytes; an
    // unsplittable one-row-group test file must not serialize the
    // assignment onto one core (no-op on a wide corpus scan, where the
    // pass stays map-only with zero added shuffles)
    val e = graft.scale.Skew.ensureMinParallelism(e0,
      e0.sparkSession.sparkContext.defaultParallelism, Seq(col("vec_id")))
    if (cents.isEmpty)
      return e.filter(lit(false)).select(col("vec_id"), col("vec"),
        lit(0L).as("cid"), lit(0.0d).as("csim"))
    if (cents.size > maxExprCentroids) {
      return e.crossJoin(broadcast(centroidRelation(e.sparkSession, cents)))
        .withColumn("csim", round(Vec.cosine(col("vec"), col("cvec")), 6))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"),
          first(col("vec")).as("vec"), max(col("csim")).as("csim"))
        .select("vec_id", "vec", "cid", "csim")
    }
    e.select(col("vec_id"), col("vec"),
        Vec.nearestCentroid(col("vec"), cents).as("__w"))
      .select(col("vec_id"), col("vec"),
        // a NULL input vector nulls the whole struct (nullSafeEval);
        // the crossJoin fallback's max_by still crowns the lowest cid
        // for that row — coalesce keeps the two paths identical there
        coalesce(col("__w.cid"), lit(cents.map(_._1).min)).as("cid"),
        col("__w.csim").as("csim"))
  }

  /** IVF-style ANN: coarse quantizer → inverted lists → probe-limited
    * search (the FAISS IVF-flat shape, relationally).
    *
    * The quantizer here is a deterministic pseudo-random corpus sample of
    * FIXED size `nlist` (the vectors with the smallest scrambled ids)
    * standing in for trained k-means centroids — the plan shape is
    * identical, and determinism keeps it oracle-checkable. Centroid
    * selection is a TakeOrderedAndProject (per-partition top-nlist, no
    * full sort/shuffle), so the centroid set does NOT grow with the
    * corpus: assignment is one broadcast O(N·nlist) pass; probing turns
    * the O(Q·N) brute-force scan into a shuffle-join on centroid id
    * touching ~nprobe/nlist of the corpus. Similarities are rounded
    * before ranking so ordering is reproducible across engines. */
  def annIvf(embeddings: DataFrame, queries: DataFrame, nlist: Int,
             nprobe: Int, k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val centVals = collectedSampleVals(e, nlist) // driver-side: nlist rows
    // corpus-side assignment is the map-only argmax projection
    // ([[assignByCentroids]] — same (csim, -cid) tie-break as the
    // oracle's row_number formulation); only the query-side probe rank
    // still joins the (tiny) centroid relation.
    val assigned = assignByCentroids(e, centVals)
      .select(col("vec_id").as("nbr_id"), col("vec").as("nbr_vec"), col("cid"))
    val cents = centroidRelation(e.sparkSession, centVals)
    val probes = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("query_vec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(Vec.cosine(col("query_vec"), col("cvec")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("query_vec"), col("cid"))
    probes.join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        round(Vec.cosine(col("query_vec"), col("nbr_vec")), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cosine", "rank")
  }

  /** IVF over int8-compressed inverted lists — the FAISS IVF-flat-SQ8
    * shape: coarse quantization and probing stay FULL precision (the
    * quantizer is nlist vectors, too small to be worth compressing, and
    * probe quality decides recall), while the corpus-sized lists carry
    * only 1 B/dim codes + one scale; in-list ranking is [[knnInt8]]'s
    * exact integer arithmetic. Composes [[annIvf]]'s probe plan with
    * [[quantizeInt8]]'s code tables — candidate join on the list id,
    * float touched only at the final cosine ratio. */
  def annIvfInt8(embeddings: DataFrame, queries: DataFrame, nlist: Int,
                 nprobe: Int, k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val centVals = collectedSampleVals(e, nlist) // driver-side: nlist rows
    val cents = centroidRelation(e.sparkSession, centVals)
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    val codes = quantizeInt8(embeddings)
      .select(col("vec_id"), transform(col("codes"), _.cast("long")).as("q"))
    // corpus-side assignment: map-only argmax projection, no shuffle
    val assigned = assignByCentroids(e, centVals)
      .select(col("vec_id"), col("cid"))
      .join(codes, Seq("vec_id"))
      .select(col("vec_id").as("nbr_id"), col("q").as("nq"), col("cid"))
    val probes = queries
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("query_vec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(Vec.cosine(col("query_vec"), col("cvec")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("cid"))
      // query codes from the QUERIES frame (per-vector scales, so codes
      // are identical to the corpus entries) — broadcasting the full
      // corpus codes table here would ship N·dims bytes for a k-row join
      .join(broadcast(quantizeInt8(queries)
        .select(col("vec_id").as("query_id"),
          transform(col("codes"), _.cast("long")).as("qq"))), Seq("query_id"))
    probes.join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("d", idot(col("qq"), col("nq")))
      .withColumn("na", sqrt(idot(col("qq"), col("qq")).cast("double")))
      .withColumn("nb", sqrt(idot(col("nq"), col("nq")).cast("double")))
      .withColumn("cosine", round(
        when(col("na") * col("nb") === 0.0d, 0.0d)
          .otherwise(col("d") / (col("na") * col("nb"))), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cosine", "rank")
  }

  /** IVF with a TRAINED coarse quantizer (MLlib k-means) — the production
    * form of [[annIvf]] (which uses a deterministic corpus sample so the
    * oracle can replay it). Same plan shape: broadcast assignment pass,
    * probe-limited candidate join on the list id. k-means runs on a
    * sample (`trainFraction`) — at 100 TB you never train on the corpus. */
  def annIvfKmeans(embeddings: DataFrame, queries: DataFrame, nlist: Int,
                   nprobe: Int, k: Int, trainFraction: Double = 1.0,
                   seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("features", array_to_vector(col("vec")))
    val train = if (trainFraction >= 1.0) e else e.sample(trainFraction, seed)
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .fit(train)
    val assigned = model.transform(e)
      .select(col("vec_id").as("nbr_id"), col("vec").as("nbr_vec"),
        col("prediction").as("cid"))
    val q = queries.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("query_vec"))
      .withColumn("features", array_to_vector(col("query_vec")))
    // rank all centroids per query by distance, keep nprobe nearest
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    val centDf = broadcast(embeddings.sparkSession.createDataFrame(cents)
      .toDF("cid", "cvec"))
    val probes = q.crossJoin(centDf)
      .withColumn("csim", Vec.cosine(col("query_vec"), col("cvec")))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("query_vec"), col("cid"))
    probes.join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        round(Vec.cosine(col("query_vec"), col("nbr_vec")), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cosine", "rank")
  }

  /** Margin-based cross-corpus pair mining (Artetxe & Schwenk 2019, the
    * CCMatrix/LASER bitext-mining scorer): for every query vector in `a`
    * find its best candidate in `b` by the RATIO margin
    * `cos(x,y) / ((avgTopK(x→B) + avgTopK(y→A)) / 2)` — raw cosine
    * over-selects "hub" vectors similar to everything; dividing by both
    * sides' neighborhood density keeps only pairs that are mutually
    * exceptional. The standard aligned-pair miner for parallel-corpus
    * construction and cross-corpus dedup.
    *
    * Shape: one cross join with the SMALLER side (`a`, the query set)
    * broadcast — the baseline exact form (at 100 TB, gate the candidate
    * pairs with [[annIvf]]/[[annLshBanded]] buckets first and feed the
    * same margin arithmetic; the windows below are unchanged). Both
    * neighborhood averages are conditional window aggregates over the
    * pair frame — partitioned by query resp. candidate id, never global.
    * Cosines are rounded to 6 dp before ranking/averaging so margins are
    * engine-stable; ties break to the lower id.
    *
    * Returns (query_id, nbr_id, cosine, margin) — the arg-max candidate
    * per query with margin ≥ `minMargin`. */
  def marginNeighbors(a: DataFrame, b: DataFrame, k: Int = 4,
                      minMargin: Double = 1.0): DataFrame = {
    val q = a.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val c = b.select(col("vec_id").as("nbr_id"),
      asDouble(col("embedding")).as("nv"))
    marginOver(c.join(broadcast(q), col("query_id") =!= col("nbr_id")),
      k, minMargin)
  }

  /** The margin arithmetic over an arbitrary candidate-pair frame
    * (query_id, nbr_id, qv, nv) — shared by the exact cross join
    * ([[marginNeighbors]]) and the LSH-gated form
    * ([[marginNeighborsLsh]]). Neighborhood averages are over each id's
    * pairs IN THE FRAME, so gated callers approximate avgTopK by the
    * surfaced candidates — the practical trade every production miner
    * makes. */
  private def marginOver(cand: DataFrame, k: Int,
                         minMargin: Double): DataFrame = {
    val perQ = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    val perN = Window.partitionBy("nbr_id")
      .orderBy(col("cosine").desc, col("query_id").asc)
    val pairs = cand
      .withColumn("cosine", round(Vec.cosine(col("qv"), col("nv")), 6))
      // anti-correlated pairs are not neighbors, and a negative cosine
      // over a negative neighborhood average would flip the ratio's
      // sign into a spuriously LARGE margin — cut them before ranking
      .filter(col("cosine") > 0)
      .withColumn("rq", row_number().over(perQ))
      .withColumn("rn", row_number().over(perN))
    val avgQ = avg(when(col("rq") <= k, col("cosine")))
      .over(Window.partitionBy("query_id"))
    val avgN = avg(when(col("rn") <= k, col("cosine")))
      .over(Window.partitionBy("nbr_id"))
    pairs
      .withColumn("margin",
        round(col("cosine") / ((avgQ + avgN) / 2.0), 6))
      // the paper's "max" strategy: per query keep the best candidate BY
      // MARGIN (argmax cosine differs when candidate hubness varies)
      .withColumn("rm", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("margin").desc, col("nbr_id").asc)))
      .filter(col("rm") === 1 && col("margin") >= minMargin)
      .select("query_id", "nbr_id", "cosine", "margin")
  }

  /** [[marginNeighbors]] at corpus scale: candidate pairs come from the
    * random-hyperplane band-bucket equi-join — both corpora keyed by the
    * SAME [[lshBandKeys]] derivation, so cost scales with shared-bucket
    * pairs, never |A|·|B| — and the identical margin arithmetic runs
    * over the surfaced pairs. Identical vectors land in identical
    * buckets in every band (recall 1 for exact duplicates); near pairs
    * are recalled with the usual banded-LSH probability. `maxBucket`
    * caps hot buckets on both sides before pairing (the standard d²
    * guard). Neighborhood averages are over surfaced candidates, so
    * margins can differ from the exact form where coverage is partial —
    * the approximation every ANN-gated miner makes. */
  def marginNeighborsLsh(a: DataFrame, b: DataFrame, planes: Int = 16,
                         bands: Int = 4, k: Int = 4,
                         minMargin: Double = 1.0,
                         maxBucket: Long = 0L): DataFrame = {
    val qa = a.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val cb = b.select(col("vec_id").as("nbr_id"),
      asDouble(col("embedding")).as("nv"))
    def keys(df: DataFrame, idc: String, vc: String) = {
      val signed = df.withColumn("signs", lshSignBits(col(vc), planes))
      val raw = signed.select(col(idc),
        explode(lshBandKeys(col("signs"), planes, bands)).as("bucket"))
      TextPipeline.capBuckets(raw, maxBucket)
    }
    val cand = keys(qa, "query_id", "qv")
      .join(keys(cb, "nbr_id", "nv"), Seq("bucket"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select("query_id", "nbr_id").distinct()
    marginOver(
      cand.join(broadcast(qa), Seq("query_id")).join(cb, Seq("nbr_id")),
      k, minMargin)
  }

  /** Distributed Lloyd k-means over the embedding column — pure
    * DataFrame per iteration: one corpus pass assigns every vector to its
    * nearest centroid (the k×d centroid table rides into the plan as
    * broadcast literals), one posexplode + hash aggregate computes
    * per-(cluster, dim) means, and only the k×d centroid table
    * (metadata) ever reaches the driver — the scalar-per-round pattern
    * of [[TextPipeline.bpeTrain]]. At 100 TB each iteration is one scan
    * + one map-side-combinable aggregate; nothing per-row touches the
    * driver.
    *
    * Init is the k lowest-vec_id vectors (deterministic and
    * engine-portable, so a fixed-iteration run is oracle-checkable end
    * to end; [[annIvfKmeans]]'s MLlib k-means|| is the production init —
    * this is its replayable twin). Centroid dims are rounded to 6 dp
    * after every update so cross-engine aggregation-order drift (~1e-13)
    * dies against the rounding grid and assignments can't flip between
    * engines. Distance is the portable left-fold L2²
    * ([[VectorFunctions.l2Squared]]); ties break to the lowest cid. A
    * cluster left empty by an update keeps its previous centroid.
    *
    * Returns (vec_id, cid, dist): the assignment under the final
    * centroids, dist = L2² rounded to 6 dp. */
  def kmeansLloyd(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, "kmeansLloyd: k >= 1, iters >= 0")
    val e = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def assign(cents: Seq[(Int, Seq[Double])]): DataFrame = {
      val scored = array(cents.map { case (cid, c) =>
        struct(
          VectorFunctions.l2Squared(col("vec"),
            array(c.map(lit): _*)).as("d"),
          lit(cid).as("cid"))
      }: _*)
      e.withColumn("sel", array_min(scored))
        .select(col("vec_id"), col("vec"),
          col("sel.cid").as("cid"), col("sel.d").as("d"))
    }
    var cents: Seq[(Int, Seq[Double])] =
      e.orderBy("vec_id").limit(k).collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }
    for (_ <- 1 to iters) {
      val upd = assign(cents)
        .select(col("cid"), posexplode(col("vec")))
        .groupBy("cid", "pos").agg(round(avg("col"), 6).as("m"))
        .collect() // k×d rows — metadata, never the corpus
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      cents = cents.map { case (cid, old) => (cid, upd.getOrElse(cid, old)) }
    }
    val out = assign(cents)
      .select(col("vec_id"), col("cid"), round(col("d"), 6).as("dist"))
    e.unpersist()
    out
  }

  // ----- product quantization -------------------------------------------

  /** Subvector `sub` (0-based) of `vec` under an m-way PQ split. The last
    * subspace absorbs the `dim % m` remainder so no component is dropped
    * when the embedding dimension is not divisible by m (FAISS instead
    * requires d % m == 0); for divisible dims this is the even split. */
  private[pipeline] def subSlice(vec: org.apache.spark.sql.Column,
                       sub: org.apache.spark.sql.Column, m: Int) = {
    val w = (size(vec) / m).cast("int")
    slice(vec, sub * w + 1,
      when(sub === (m - 1), size(vec) - w * (m - 1)).otherwise(w))
  }

  /** Per-subspace PQ codebooks and per-(vector, subspace) code
    * assignment, shared by [[pqCodes]] and [[annPq]]. The codebook is a
    * deterministic scrambled-id corpus sample of `ksub` vectors (same
    * trick as [[annIvf]] — plan shape of a trained codebook, oracle-
    * replayable), sliced into m subvectors (the last absorbing the
    * dim % m remainder, so no component is dropped); codes are assigned by a
    * min_by hash aggregate over the broadcast codebook (partial agg, no
    * window sort over the corpus). Distances are fixed-point micro-units
    * (round(d²·1e6) as long) so every downstream sum/compare is exact
    * integer arithmetic — reproducible across engines and partition
    * orders. */
  private[pipeline] def pqAssign(e: DataFrame, m: Int, ksub: Int,
                       sample: Option[DataFrame] = None) = {
    // default sample via collectedSample: ONE corpus TakeOrderedAndProject
    // instead of re-running the sample subquery inside every broadcast
    // build that references the codebook
    val cents = sample.getOrElse(collectedSample(e, ksub))
    val codebook = pqCodebook(cents, m)
    (codebook, pqAssignment(e, codebook, m))
  }

  /** Codebook table (sub, code, csubvec) from (cid, cvec) centroid rows:
    * codes are 0-based ranks of cid, each centroid sliced into its m
    * subvectors.
    *
    * The ranking and slicing run DRIVER-SIDE over the collected rows and
    * the result is re-injected as a local relation: the codebook is
    * metadata by construction (≤ ksub centroid rows — every caller
    * passes a `limit`ed frame), so a distributed
    * `row_number().over(Window.orderBy(...))` here would only (a) fire
    * the single-partition WindowExec warning that must stay meaningful
    * for real corpus-sized plans, and (b) cost a scheduled job per
    * broadcast build that references the codebook. As a local relation
    * it broadcasts without launching tasks. Slicing matches [[subSlice]]
    * exactly: even w = dim/m split, last subspace absorbs the
    * remainder. */
  private[pipeline] def pqCodebook(cents: DataFrame, m: Int): DataFrame = {
    val spark = cents.sparkSession
    val rows = cents.select(col("cid").cast("long"), col("cvec")).collect()
      .sortBy(_.getLong(0))
    val entries = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.zipWithIndex.foreach { case (r, code) =>
      val cvec = sanitizedVec(r, 1) // null/null-element rows never win
      val w = cvec.length / m
      (0 until m).foreach { sub =>
        val len = if (sub == m - 1) cvec.length - w * (m - 1) else w
        entries.add(org.apache.spark.sql.Row(
          sub, code, cvec.slice(sub * w, sub * w + len)))
      }
    }
    spark.createDataFrame(entries, StructType(Seq(
      StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("csubvec", ArrayType(DoubleType)))))
  }

  /** Fused one-scan IVF-PQ encode: coarse centroid assignment AND
    * per-subspace PQ code assignment in a SINGLE pass over the corpus —
    * (vec_id, codes, cid), codes ordered by subspace.
    *
    * The naive composition ([[annIvfPq]] pre-fusion, and FAISS's
    * assign-then-encode) reads every corpus vector twice and joins the
    * two results on vec_id — at 100 TB that is a second full scan plus
    * a corpus-sized shuffle join. Here the coarse search rides the PQ
    * explode as pseudo-subspace `sub = -1`: the combined broadcast
    * table is codebook rows (sub 0..m-1, argmin fixed-point L2) plus
    * centroid rows (sub = -1, argmax rounded cosine, encoded as
    * min_by of the NEGATED similarity so one aggregate serves both),
    * and a second groupBy packs codes and cid into one row. Scores are
    * only ever compared within one (vec_id, sub) group, so the two
    * metrics never meet; tie-breaks (lowest code / lowest cid) match
    * the unfused operators exactly — output is bit-identical
    * (spec-pinned, oracle-checked). */
  private[pipeline] def fusedEncode(e0: DataFrame, cents: DataFrame,
                       codebook: DataFrame, m: Int): DataFrame = {
    // the per-vector encode (nlist cosines + m×ksub subspace argmins)
    // dwarfs the vector bytes — same one-row-group parallelism guard
    // as assignByCentroids, no-op on a wide corpus scan
    val e = graft.scale.Skew.ensureMinParallelism(e0,
      e0.sparkSession.sparkContext.defaultParallelism, Seq(col("vec_id")))
    // both sides are metadata-sized local relations by construction —
    // collect them and bake the whole encode into ONE map-only
    // projection via the native loop expressions (PqNearestCodes for
    // the per-subspace argmins, NearestCentroid for the coarse argmax;
    // tie-breaks identical to the min_by spellings). Zero shuffles; the
    // exploded two-aggregate form survives as the fallback for
    // oversized codebooks.
    val centVals = cents.select(col("cid").cast("long"), col("cvec"))
      .collect().toSeq.map(r => (r.getLong(0), sanitizedVec(r, 1)))
    val cbVals = codebook
      .select(col("sub"), col("code"), col("csubvec"))
      .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), sanitizedVec(r, 2)))
    val bySub = cbVals.groupBy(_._1)
    val exprOk = centVals.nonEmpty &&
      centVals.size + cbVals.size <= 8192 &&
      (0 until m).forall(s => bySub.get(s).exists(_.nonEmpty))
    if (!exprOk) return fusedEncodeExploded(e, cents, codebook, m)
    val perSub = (0 until m).map(s =>
      bySub(s).sortBy(_._2).map { case (_, code, csv) => (code, csv) })
    e.select(col("vec_id"),
        Vec.pqNearestCodes(col("vec"), m, perSub).as("codes"),
        Vec.nearestCentroid(col("vec"), centVals).getField("cid").as("cid"))
      // a vector that cannot produce a full encode (dimension mismatch,
      // null elements) is dropped whole — the fallback applies the same
      // all-or-nothing rule
      .filter(col("codes").isNotNull)
  }

  /** The pre-fusion exploded form of [[fusedEncode]] — two aggregates
    * over an (m+1)-way explode joined to the broadcast codebook∪centroid
    * table. Identical output to the native form on ANY input: PQ
    * candidates rank on a dedicated LONG column (exact above 2^53,
    * where a long→double round-trip would tie-collapse; NaN → 0 and
    * ±Inf → Long.Max/MinValue via [[toLongScala]], exactly as
    * [[graft.expressions.PqNearestCodes]] compares), the coarse
    * candidates on a double column with NaN mapped to -Infinity (the
    * native Double.compare rank); null-scored candidates are filtered; a vector
    * missing any PQ subspace is dropped whole, and one whose every
    * COARSE candidate is invalid falls back to the lowest centroid id —
    * the [[graft.expressions.NearestCentroid]] contract. Used when the
    * codebook is too large to bake into the projection. */
  /** Scala's Double→Long conversion as a Column (NaN → 0, ±Infinity →
    * Long.Max/MinValue) — the comparison domain
    * [[graft.expressions.PqNearestCodes]] ranks distances in. A plain
    * `.cast("long")` THROWS under ANSI mode for non-finite distances
    * (reachable from overflowing vector elements), so the exploded
    * fallbacks spell the conversion out to stay identical to the
    * native path on ANY input. Null propagates (callers filter it). */
  private def toLongScala(d: Column): Column =
    when(isnan(d), lit(0L))
      .when(d >= lit(Long.MaxValue.toDouble), lit(Long.MaxValue))
      .when(d <= lit(Long.MinValue.toDouble), lit(Long.MinValue))
      .otherwise(d.cast("long"))

  private[pipeline] def fusedEncodeExploded(e: DataFrame, cents: DataFrame,
                       codebook: DataFrame, m: Int): DataFrame = {
    val minRow = cents.agg(min(col("cid"))).collect()(0)
    val minCid = if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
    val combined = codebook
      .select(col("sub"), col("code").cast("long").as("code"), col("csubvec"))
      .unionByName(cents.select(lit(-1).as("sub"), col("cid").as("code"),
        col("cvec").as("csubvec")))
    val perSub = e.select(col("vec_id"), col("vec"),
        explode(sequence(lit(-1), lit(m - 1))).as("sub"))
      .withColumn("subvec",
        when(col("sub") >= 0, subSlice(col("vec"), col("sub"), m))
          .otherwise(col("vec")))
      .join(broadcast(combined), Seq("sub"))
      .withColumn("scoreL",
        when(col("sub") >= 0,
          toLongScala(
            round(Vec.l2Squared(col("subvec"), col("csubvec")) * 1000000.0d)))
          .otherwise(lit(0L)))
      .withColumn("scoreD",
        // Negating does not reverse the order for NaN (Spark's total
        // ordering puts NaN above every double and -NaN is NaN), so a
        // NaN cosine would rank WORST under min_by here while ranking
        // BEST in the native NearestCentroid path (java.lang.Double
        // .compare). Map NaN to -Infinity explicitly — cosine is never
        // ±Infinity, so the mapping is collision-free — to keep the
        // two paths identical on non-finite inputs.
        when(col("sub") >= 0, lit(0.0d))
          .otherwise({
            val csim = round(Vec.cosine(col("subvec"), col("csubvec")), 6)
            when(isnan(csim), lit(Double.NegativeInfinity)).otherwise(-csim)
          }))
      .filter((col("sub") >= 0 && col("scoreL").isNotNull) ||
        (col("sub") < 0 && col("scoreD").isNotNull))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"),
        struct(col("scoreL"), col("scoreD"), col("code"))).as("code"))
    perSub.groupBy(col("vec_id"))
      .agg(
        transform(
          array_sort(collect_list(
            when(col("sub") >= 0, struct(col("sub"), col("code"))))),
          s => s.getField("code").cast("int")).as("codes"),
        max(when(col("sub") === -1, col("code"))).as("cid"))
      .filter(size(col("codes")) === m)
      .select(col("vec_id"), col("codes"),
        coalesce(col("cid"), lit(minCid)).as("cid"))
  }

  /** Per-(vector, subspace) nearest-code assignment against a FROZEN
    * codebook — the encode pass, shared by one-shot ANN search and the
    * persisted index's build/append (appending must not retrain).
    * Map-only like [[fusedEncode]]: the codebook is metadata-sized, so
    * it is baked into a native [[graft.expressions.PqNearestCodes]]
    * loop expression (one codegen'd projection) and the
    * (vec_id, sub, code) rows come from a posexplode of its result —
    * no broadcast join, no re-aggregation shuffle. (An unrolled
    * `least`-over-code-literals chain was measured and rejected
    * elsewhere: it blows the 64 KB codegen method limit.) */
  private[pipeline] def pqAssignment(e: DataFrame, codebook: DataFrame,
                       m: Int): DataFrame = {
    val cbVals = codebook.select(col("sub"), col("code"), col("csubvec"))
      .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), sanitizedVec(r, 2)))
    val bySub = cbVals.groupBy(_._1)
    val exprOk = cbVals.size <= 8192 &&
      (0 until m).forall(s => bySub.get(s).exists(_.nonEmpty))
    if (!exprOk) return pqAssignmentExploded(e, codebook, m)
    val perSub = (0 until m).map(s =>
      bySub(s).sortBy(_._2).map { case (_, code, csv) => (code, csv) })
    e.select(col("vec_id"),
      posexplode(Vec.pqNearestCodes(col("vec"), m, perSub))
        .as(Seq("sub", "code")))
  }

  /** The exploded fallback form of [[pqAssignment]] for oversized
    * codebooks — identical output: null-distance candidates (dimension
    * mismatch / null element) are filtered rather than fed to min_by
    * (whose struct ordering would crown an arbitrary code), and a
    * vector missing ANY subspace is then dropped WHOLE — the native
    * path's all-or-nothing contract, not a partial code set that would
    * sum fewer ADC terms and rank the corrupt vector artificially
    * high. */
  private[pipeline] def pqAssignmentExploded(e: DataFrame, codebook: DataFrame,
                       m: Int): DataFrame = {
    val perSub = e.select(col("vec_id"), col("vec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("subvec", subSlice(col("vec"), col("sub"), m))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d2u",
        toLongScala(
          round(Vec.l2Squared(col("subvec"), col("csubvec")) * 1000000.0d)))
      .filter(col("d2u").isNotNull)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d2u"), col("code"))).as("code"))
    val complete = perSub.groupBy("vec_id")
      .agg(count(lit(1)).as("__n")).filter(col("__n") === m)
      .select("vec_id")
    perSub.join(complete, Seq("vec_id"), "left_semi")
  }

  /** PQ compression: each vector → `m` codebook indices ('-'-joined).
    * With m=4, ksub=16 a 64-dim float vector (256 B) compresses to 4
    * half-byte codes — the memory step that lets a 100 TB embedding
    * corpus live in scan-friendly storage; [[annPq]] searches these codes
    * without touching the original vectors. */
  def pqCodes(embeddings: DataFrame, m: Int = 4, ksub: Int = 16): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    pqAssign(e, m, ksub)._2
      .groupBy("vec_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          s => s.getField("code").cast("string")), "-").as("codes"))
  }

  /** PQ asymmetric-distance (ADC) search: the query builds an m×ksub
    * distance table against the broadcast codebook; each corpus vector's
    * approximate distance is the SUM of table entries at its codes —
    * compressed-domain search that never touches corpus vectors after
    * encoding. Relationally: assignment ⋈ broadcast table on (sub, code)
    * then an integer sum per (query, nbr) — O(N·m·Q) with m ≪ dim, the
    * PQ speedup over brute force's O(N·d·Q), all in one partial-agg
    * shuffle keyed by the pair. */
  def annPq(embeddings: DataFrame, queries: DataFrame, m: Int = 4,
            ksub: Int = 16, k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val (codebook, assignment) = pqAssign(e, m, ksub)
    val qtable = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("qsubvec", subSlice(col("qvec"), col("sub"), m))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("qd2u",
        round(Vec.l2Squared(col("qsubvec"), col("csubvec")) * 1000000.0d)
          .cast("long"))
      .select("query_id", "sub", "code", "qd2u")
    assignment.withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(qtable), Seq("sub", "code"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(sum("qd2u").as("d2u"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("approx_d2", round(col("d2u") / 1000000.0d, 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2u").asc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "approx_d2", "rank")
  }

  /** IVF-PQ: the composition a 100 TB vector store actually runs — the
    * [[annIvf]] coarse quantizer prunes the corpus to `nprobe`/`nlist`
    * inverted lists, then [[annPq]]'s fixed-point ADC ranks inside the
    * probed lists using codes only. Corpus vectors are touched once (at
    * encode time); the search-side joins move ids, codes and the
    * broadcast query table — never embeddings. */
  def annIvfPq(embeddings: DataFrame, queries: DataFrame,
               nlist: Int, nprobe: Int, m: Int = 4, ksub: Int = 16,
               k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), asVec(embeddings).as("vec"))
    // The coarse quantizer (nlist rows) and the PQ codebook sample (ksub
    // rows) are prefixes of the SAME scrambled-id order, so one corpus
    // TakeOrderedAndProject — collected to the driver and re-injected as
    // a local relation — serves both broadcast sides. Deriving each
    // separately costs a second full-corpus scan (ReuseExchange can't
    // unify broadcasts with different limits). Codebooks are tiny
    // driver-side artifacts by construction, the same shape
    // [[annIvfKmeans]] ships its trained centers in.
    val sample = collectedSample(e, math.max(nlist, ksub))
    val cents = sample.limit(nlist)
    val codebook = pqCodebook(sample.limit(ksub), m)
    val probes = queries
      .select(col("vec_id").as("query_id"), asVec(queries).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(Vec.cosine(col("qvec"), col("cvec")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("cid"))
    val qtable = queries
      .select(col("vec_id").as("query_id"), asVec(queries).as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("qsubvec", subSlice(col("qvec"), col("sub"), m))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("qd2u",
        round(Vec.l2Squared(col("qsubvec"), col("csubvec")) * 1000000.0d)
          .cast("long"))
      .select("query_id", "sub", "code", "qd2u")
    // fine ranking: ADC over the probed lists only; the corpus is read
    // ONCE (fused coarse + PQ encode), probes prune lists before the
    // per-subspace explode
    fusedEncode(e, cents, codebook, m)
      .withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(probes), Seq("cid"))
      .select(col("query_id"), col("nbr_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")
      .join(broadcast(qtable), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(sum("qd2u").as("d2u"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("approx_d2", round(col("d2u") / 1000000.0d, 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2u").asc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "approx_d2", "rank")
  }

  /** IVF-PQ with RESIDUAL encoding — the production FAISS form: each
    * vector is PQ-encoded as its residual from the assigned coarse
    * centroid, and the query builds a separate ADC table per probed list
    * from ITS residual to that centroid. Residuals concentrate around the
    * origin, so the same ksub codebook quantizes far more precisely than
    * raw-vector PQ; the cost is a per-(query, probe) table (nprobe× the
    * query-side work — still tiny) while the corpus-side joins stay
    * codes + ids only. */
  def annIvfPqResidual(embeddings: DataFrame, queries: DataFrame,
                       nlist: Int, nprobe: Int, m: Int = 4, ksub: Int = 16,
                       k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val centVals = collectedSampleVals(e, nlist) // driver-side: nlist rows
    val cents = centroidRelation(e.sparkSession, centVals)
    // corpus-side assignment: map-only argmax projection, no shuffle
    val coarse = assignByCentroids(e, centVals)
      .select(col("vec_id"), col("cid"), col("vec"))
    // residual vectors: vec - assigned centroid (arrays referenced once)
    val resid = coarse.join(broadcast(cents), Seq("cid"))
      .withColumn("vec", zip_with(col("vec"), col("cvec"), (a, b) => a - b))
      .select("vec_id", "cid", "vec")
    val (codebook, assignment) = pqAssign(resid.select("vec_id", "vec"), m, ksub)
    // per-(query, probed list) residual → its own ADC table
    val qtable = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(Vec.cosine(col("qvec"), col("cvec")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("crn") <= nprobe)
      .withColumn("qres", zip_with(col("qvec"), col("cvec"), (a, b) => a - b))
      .select(col("query_id"), col("cid"), col("qres"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("qsubvec", subSlice(col("qres"), col("sub"), m))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("qd2u",
        round(Vec.l2Squared(col("qsubvec"), col("csubvec")) * 1000000.0d)
          .cast("long"))
      .select("query_id", "cid", "sub", "code", "qd2u")
    assignment.withColumnRenamed("vec_id", "nbr_id")
      .join(resid.select(col("vec_id").as("nbr_id"), col("cid")), Seq("nbr_id"))
      .join(broadcast(qtable), Seq("cid", "sub", "code"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(sum("qd2u").as("d2u"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("approx_d2", round(col("d2u") / 1000000.0d, 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2u").asc, col("nbr_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "approx_d2", "rank")
  }

  /** Recall@k of an approximate ANN result against exact ground truth:
    * per query, the fraction of the true top-k the approximate method
    * returned. Both inputs carry (query_id, nbr_id, rank) — i.e. any two
    * outputs of the methods in this module. One semi-join + two hash
    * aggregates; queries with no approximate hits score 0. This is the
    * tuning loop for planes/bands/nlist/nprobe/m/ksub: measure on a
    * sampled query set, then fix the config for the corpus pass. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val t = exact.filter(col("rank") <= k).select("query_id", "nbr_id")
    val hit = t.join(approx.filter(col("rank") <= k)
        .select("query_id", "nbr_id"), Seq("query_id", "nbr_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    t.groupBy("query_id").agg(count(lit(1)).as("truth"))
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("truth"), 4)
          .as("recall"))
  }

  /** Embedding-cosine near-duplicate REMOVAL: greedy canonical selection
    * over the LSH near-dup pairs — a vector is dropped iff some
    * lower-id candidate vector matches at ≥ `minCosine` (vec_a < vec_b in
    * the pair generators makes the earliest id the canonical survivor).
    * One broadcast-able distinct-duplicates set + a left_anti join; the
    * corpus-side work is the LSH pass itself.
    *
    * `bands > 1` composes on [[annLshBanded]] — the corpus-scale path:
    * banded keys keep bucket sizes bounded as `planes` grows with
    * log2(N), where the single-table form (`bands = 1`, [[annLsh]])
    * degenerates to O(N²/2^planes) same-bucket pairs. Banded candidates
    * with bands spanning the same leading planes are a superset of the
    * single-table candidates, so banded dedup removes at least as many
    * near-duplicates (spec-asserted). */
  def dedupByCosine(embeddings: DataFrame, planes: Int,
                    minCosine: Double, bands: Int = 1): DataFrame = {
    val pairs =
      if (bands <= 1) annLsh(embeddings, planes, minCosine)
      else annLshBanded(embeddings, planes, bands, minCosine)
    // no distinct on the loser ids: anti-join semantics absorb
    // duplicates (semDedup's documented shape) — one exchange fewer
    val dupes = pairs.select(col("vec_b").as("vec_id"))
    embeddings.join(dupes, Seq("vec_id"), "left_anti")
      .select("vec_id")
  }

  /** [[dedupByCosine]] in the capped production posture: band buckets
    * larger than `maxBucket` are dropped before the self-join
    * ([[annLshBanded]]'s skew guard) — one degenerate cluster sharing
    * every sign bit would otherwise owe d² pairs through its bucket.
    * Recall loss is confined to pairs agreeing ONLY on an over-cap band
    * (their members are all kept — capping loses dedup recall, never
    * data). */
  def dedupByCosineCapped(embeddings: DataFrame, planes: Int, bands: Int,
                          minCosine: Double, maxBucket: Long): DataFrame = {
    val pairs = annLshBanded(embeddings, planes, bands, minCosine,
      maxBucket = maxBucket)
    // no distinct on the loser ids: anti-join absorbs duplicates
    val dupes = pairs.select(col("vec_b").as("vec_id"))
    embeddings.join(dupes, Seq("vec_id"), "left_anti")
      .select("vec_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate removal via coarse clustering — assign every vector
    * to its nearest centroid, compare pairs only WITHIN a cluster, drop
    * the higher-id side of every pair with cosine ≥ `minCosine`, keep
    * everything else. Complement of [[dedupByCosine]]: sign-LSH buckets
    * trade recall for bucket size, while the cluster pass compares by
    * actual embedding proximity — the published method's shape.
    *
    * The coarse quantizer is [[annIvf]]'s deterministic scrambled-id
    * corpus sample (fixed `nlist`, TakeOrderedAndProject, task-free
    * local relation) standing in for trained k-means: identical plan,
    * oracle-checkable ([[annIvfKmeans]] shows the `model.transform`
    * swap when trained centroids are wanted). Assignment is one
    * broadcast O(N·nlist) max_by pass — no corpus-wide window.
    *
    * Keep rule: lowest `vec_id` per confirmed pair by default (the
    * engine's deterministic, engine-portable convention, same as
    * [[dedupByCosine]]). `keepOutlier = true` applies the PAPER's rule
    * instead — per confirmed pair, drop the member MORE similar to its
    * cluster centroid (ties → drop the higher id), keeping the
    * diversity-preserving outlier examples the paper argues for.
    *
    * Scale: a cluster of d members owes d(d−1)/2 comparisons through
    * the single reducer owning its `cid`. `maxCluster > 0` exempts
    * degenerate clusters from comparison entirely — their members are
    * all KEPT, so capping loses dedup recall, never data.
    * `tileTarget > 0` keeps them and spreads the d² pair explosion
    * over reducer tiles ([[graft.scale.Skew.tiledPairs]],
    * recall-lossless). Each vector lives in exactly one cluster, so
    * pairs are born unique — no distinct before the cosine confirm. */
  def semDedup(embeddings: DataFrame, nlist: Int, minCosine: Double,
               maxCluster: Long = 0L, tileTarget: Long = 0L,
               keepOutlier: Boolean = false): DataFrame =
    semDedupCached(embeddings, nlist, minCosine, maxCluster, tileTarget,
      keepOutlier).result

  /** Nearest-centroid assignment over the deterministic scrambled-id
    * sample quantizer: (vec_id, vec, cid, csim) — the SemDeDup coarse
    * stage, shared by [[semDedupCached]] and [[hybridDedup]]. The
    * winner's centroid similarity is csim by construction — carried
    * for the keepOutlier rule at zero extra passes. MAP-ONLY via
    * [[assignByCentroids]] (centroids baked into the projection): no
    * crossJoin fanout, no groupBy shuffle — one narrow pass fused into
    * the scan. */
  private def coarseAssigned(embeddings: DataFrame, nlist: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), asVec(embeddings).as("vec"))
    assignByCentroids(e, collectedSampleVals(e, nlist))
  }

  /** [[semDedup]] with an explicit release handle for the persisted
    * assignment frame (read by the pair join's two sides and the final
    * keep anti-join — repeated scans of the O(N·nlist) assignment pass
    * without the persist).
    *
    * Shuffle budget: clusters pair each vector with its co-members
    * exactly once, so pairs are born unique and the loser set needs NO
    * distinct before the anti join (anti-join semantics absorb
    * duplicates). The untiled path joins the vector-carrying frame on
    * `cid` directly — both vectors arrive WITH the pair, no re-attach
    * joins (cluster sizes are bounded by construction or `maxCluster`,
    * so shuffling vectors by cid moves the same row count as ids).
    * Only the tiled path — degenerate clusters spread over reducer
    * tiles — pairs slim ids first and re-attaches vectors by id, where
    * duplicating d² wide rows through tiles would defeat the tiling. */
  def semDedupCached(embeddings: DataFrame, nlist: Int, minCosine: Double,
                     maxCluster: Long = 0L, tileTarget: Long = 0L,
                     keepOutlier: Boolean = false): graft.core.Cached[DataFrame] = {
    val assigned = coarseAssigned(embeddings, nlist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // csim only rides the pair shuffle when the keep rule reads it
    val sideCols = Seq("vec_id", "vec") ++ (if (keepOutlier) Seq("csim") else Nil)
    val pairs =
      if (tileTarget > 0L) {
        val slim = TextPipeline.capBuckets(
          assigned.select(col("vec_id"), col("cid")), maxCluster, "cid")
        val raw = graft.scale.Skew.tiledPairs(slim, "vec_id", "cid", tileTarget)
          .select(col("a").as("id_a"), col("b").as("id_b"))
        val vecs = assigned.select((col("vec_id") +: sideCols.drop(1).map(col)): _*)
        raw
          .join(vecs.toDF(sideCols.map(_ + "_a"): _*)
            .withColumnRenamed("vec_id_a", "id_a"), Seq("id_a"))
          .join(vecs.toDF(sideCols.map(_ + "_b"): _*)
            .withColumnRenamed("vec_id_b", "id_b"), Seq("id_b"))
      } else {
        val capped = TextPipeline.capBuckets(
          assigned.select((col("cid") +: sideCols.map(col)): _*), maxCluster, "cid")
        def side(suffix: String) = capped.select(
          (col("cid") +: sideCols.map(c => col(c).as(s"${c}_$suffix"))): _*)
        side("a").withColumnRenamed("vec_id_a", "id_a")
          .join(side("b").withColumnRenamed("vec_id_b", "id_b"), Seq("cid"))
          .filter(col("id_a") < col("id_b"))
      }
    val loserId =
      if (keepOutlier)
        // drop the more-central member; ties → higher id (keeps min id)
        when(struct(col("csim_a"), col("id_a")) >
               struct(col("csim_b"), col("id_b")),
          col("id_a")).otherwise(col("id_b"))
      else col("id_b")
    val losers = pairs
      .filter(round(Vec.cosine(col("vec_a"), col("vec_b")), 6) >= minCosine)
      .select(loserId.as("vec_id"))
    val kept = assigned.select(col("vec_id"), col("cid"))
      .join(losers, Seq("vec_id"), "left_anti")
    graft.core.Cached(kept, assigned)
  }

  /** Two-stage hybrid deduplication: semantic coarse gate + lexical
    * confirmation. Documents whose embedding (joined on doc_id = vec_id)
    * lands in the same coarse cluster are compared by distinct word
    * n-gram Jaccard; the higher-id side of every pair at >= `minJaccard`
    * is dropped. The embedding stage bounds the candidate space to
    * topical clusters (never all-pairs); the n-gram stage confirms with
    * an interpretable symmetric measure — so a semantically-close pair
    * with disjoint wording (a paraphrase worth KEEPING for training
    * diversity) survives, where pure SemDeDup would drop it, and a
    * lexical near-copy in a different cluster survives the gate (recall
    * traded for the candidate bound, exactly like LSH banding).
    * Documents WITHOUT an embedding row are kept untouched — the
    * cluster stage is a gate, not a filter.
    *
    * Scale shape: the O(N·nlist) assignment is one broadcast max_by
    * pass; the pairwise stage self-joins the per-cluster inverted index
    * on (cid, shingle) so candidates never cross clusters; `maxCluster`
    * exempts degenerate clusters (members all kept), `tileTarget`
    * spreads their d² pairs over reducer tiles losslessly
    * ([[graft.scale.Skew.tiledPairs]] keyed by the composite
    * cluster+shingle bucket). Returns surviving (doc_id, cid) — cid
    * null for unclustered documents. */
  def hybridDedup(docs: DataFrame, embeddings: DataFrame, nlist: Int,
                  n: Int = 2, minJaccard: Double = 0.5,
                  maxCluster: Long = 0L, tileTarget: Long = 0L): DataFrame = {
    // the (doc_id, cid) assignment feeds BOTH the clustering join and the
    // final attach — persist the slim frame (2 longs/row) so the
    // O(N·nlist) assignment pass runs once, as semDedupCached does
    val cids = coarseAssigned(embeddings, nlist)
      .select(col("vec_id").as("doc_id"), col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clustered = TextPipeline.capBuckets(
      docs.select("doc_id", "text").join(cids, Seq("doc_id")),
      maxCluster, "cid")
    // 8-byte poly-47 gram keys instead of shingle strings: the self-join
    // compares and shuffles longs (the span-dedup key discipline), and
    // the per-doc sizes are a map-side projection of the cached
    // pre-explode frame, not an aggregate over the exploded index.
    // Collisions between DISTINCT shingles are kept, not papered over:
    // n_sh counts distinct strings, `shared` counts colliding key
    // matches, and the DuckDB oracle applies the identical hash, so
    // results stay value-identical by construction.
    val hashed = graft.scale.Skew.ensureMinParallelism(clustered,
        docs.sparkSession.sparkContext.defaultParallelism,
        Seq(col("doc_id")))
      // guard BETWEEN the gate join and the shingle projection: the
      // join output inherits the streamed side's partitioning (one
      // task against one-row-group test files), and the shingle+hash
      // compute dwarfs the shuffled text bytes; no-op on a wide corpus
      .select(col("cid"), col("doc_id"),
        graft.expressions.TextExpressions.polyHash47(
          graft.expressions.TextExpressions
            .wordShingles(col("text"), n, distinct = true)).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the per-doc distinct-gram count is ROW-LOCAL here (no df cap on
    // grams — size(hs) off the pre-explode array), so the 4-byte int
    // rides the index rows through the pair join and the aggregate
    // takes min() of a per-group constant, instead of re-attaching it
    // with two pair-keyed joins AFTER the aggregate (guide §2.3: at
    // pair volume those two joins are the dominant shuffles; locally
    // they cost two broadcast builds plus the duplicated sizes
    // subtree). Exact: every inv row of a doc carries the same n_sh,
    // so min() IS that value. Contrast nearDupJaccard, whose sizes
    // count POST-df-cap index rows — not row-local — so its re-attach
    // joins must stay.
    val inv = hashed.select(col("cid"), col("doc_id"),
      size(col("hs")).as("n_sh"), explode(col("hs")).as("h"))
    val shared = (
      if (tileTarget > 0L)
        graft.scale.Skew.tiledPairs(
          inv.withColumn("ck",
            concat_ws("\u0000", col("cid").cast("string"),
              col("h").cast("string"))),
          "doc_id", "ck", tileTarget, Seq("n_sh"))
          .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
          .agg(count(lit(1)).as("shared"),
            min("a_n_sh").as("size_a"), min("b_n_sh").as("size_b"))
      else inv.as("a").join(inv.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"),
          min(col("a.n_sh")).as("size_a"), min(col("b.n_sh")).as("size_b"))
      )
    val losers = shared
      .filter(round(col("shared").cast("double") /
        (col("size_a") + col("size_b") - col("shared")), 6) >= minJaccard)
      .select(col("doc_b").as("doc_id"))
    docs.select("doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
      .join(cids, Seq("doc_id"), "left")
  }

  /** Per-plane hyperplane sign bits as a '0'/'1' string (plane 0 first).
    * Scala-side plane loop: `vec` is referenced a constant number of
    * times, never inside a per-element lambda. */
  def lshSignBits(vec: org.apache.spark.sql.Column, planes: Int): org.apache.spark.sql.Column =
    Vec.lshSignBits(vec, planes)

  /** Banded multi-table sign-LSH candidate pairs with cosine score — the
    * minhash band shape applied to hyperplane signs. `planes` signs are
    * split into `bands` tables of planes/bands signs each; a pair is a
    * candidate if it shares ANY band's full sign-substring
    * (OR-amplification for recall, longer per-band keys for precision).
    *
    * Scale: unlike the single-table form (whose 2^planes key space must
    * stay small for recall, forcing O(N²/2^planes) same-bucket pairs and
    * maximal shuffle skew), the band keys draw from 2^(planes/bands) ×
    * bands values with recall coming from the OR across tables — so
    * planes can grow with log2(N) and bucket sizes stay bounded.
    * Candidate pairs are deduplicated BEFORE vectors are re-attached
    * (ids only through the distinct; two slim joins fetch the vectors).
    *
    * Cache lifetime: the bucket frame is persisted (both self-join sides
    * read it) and, because the result is lazy, stays cached until the
    * session ends. Callers looping over many corpora should use
    * [[annLshBandedCached]] and release the handle between corpora — same
    * contract as TextPipeline.nearDupJaccard/minhashCandidates. */
  def annLshBanded(embeddings: DataFrame, planes: Int, bands: Int,
                   minCosine: Double, maxBucket: Long = 0L,
                   tileTarget: Long = 0L): DataFrame =
    annLshBandedCached(embeddings, planes, bands, minCosine, maxBucket,
      tileTarget).result

  /** [[annLshBanded]] with an explicit release handle for the persisted
    * bucket frame — `handle.unpersist()` when done with this corpus.
    *
    * `maxBucket` drops band buckets larger than the cap before the
    * self-join — the hot-bucket skew guard (a bucket of d vectors yields
    * d² pairs; one degenerate bucket — zero vectors, a dominant cluster —
    * turns the join quadratic). Recall loss is confined to pairs agreeing
    * only on an over-cap band. <= 0 disables (the oracle-checked
    * default). */
  /** Band keys over a sign-bit string (band index + the band's sign
    * substring). Shared by the batch generator and incremental ingest so
    * buckets agree by construction. */
  private[pipeline] def lshBandKeys(signs: org.apache.spark.sql.Column,
                                    planes: Int, bands: Int): org.apache.spark.sql.Column = {
    require(planes % bands == 0, "bands must divide planes")
    val perBand = planes / bands
    array((0 until bands).map(b =>
      concat_ws("_", lit(b),
        substring(signs, b * perBand + 1, perBand))): _*)
  }

  def annLshBandedCached(embeddings: DataFrame, planes: Int, bands: Int,
                         minCosine: Double,
                         maxBucket: Long = 0L,
                         tileTarget: Long = 0L): graft.core.Cached[DataFrame] = {
    val sig = embeddings
      .select(col("vec_id"), asVec(embeddings).as("vec"))
      .withColumn("signs", lshSignBits(col("vec"), planes))
    val bandKeys = lshBandKeys(col("signs"), planes, bands)
    // The vector rides THROUGH the explode: cosine is confirmed inside
    // the bucket self-join, so the only vector-carrying shuffle is the
    // bucket frame itself (N × bands rows) — never the candidate pairs.
    // The pair-side attach it replaces (distinct ids → two vector
    // joins) shipped one 64-float array PER CANDIDATE PAIR, and pairs
    // grow ~N·d_mean while the bucket frame grows ~N·bands: at 1M
    // vectors that shape measured 25 GB of pair shuffle (30 GB memory +
    // 22 GB disk spill under sort-merge before the shuffle-hash hint).
    // Confirming in-bucket also lets the minCosine filter run BEFORE
    // the dedup, so distinct sees only survivors. A pair agreeing on k
    // bands pays k cosines (k ≤ bands, near-dups only) — arithmetic is
    // ~free next to shuffled bytes at corpus scale. Values identical:
    // cosine is deterministic per pair, so filter∘distinct commutes.
    // The persisted frame serves the hot-bucket census (bucket column
    // only — the cached columnar scan prunes), both self-join sides,
    // and the tiled path (which drops vec: tiledPairs' row_number
    // window must not shuffle arrays; its slim pairs re-attach below).
    val raw = sig.select(col("vec_id"), col("vec"), explode(bandKeys).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets =
      if (maxBucket <= 0L) raw
      else {
        val hot = raw.groupBy("bucket").agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") > maxBucket).select("bucket")
        raw.join(broadcast(hot), Seq("bucket"), "left_anti")
      }
    val result =
      if (tileTarget > 0L) {
        val pairs = graft.scale.Skew.tiledPairs(
            buckets.select("vec_id", "bucket"), "vec_id", "bucket", tileTarget)
          .select(col("a").as("vec_a"), col("b").as("vec_b"))
          .distinct()
        // vector re-attach (tiled path only): SHUFFLE_HASH, not
        // sort-merge — the corpus side hashes to ~10 MB/task while the
        // pair side streams unsorted instead of sorting arrays.
        val va = embeddings.select(col("vec_id").as("vec_a"),
          asVec(embeddings).as("va")).hint("shuffle_hash")
        val vb = embeddings.select(col("vec_id").as("vec_b"),
          asVec(embeddings).as("vb")).hint("shuffle_hash")
        pairs.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
          .withColumn("cosine", round(Vec.cosine(col("va"), col("vb")), 4))
          .filter(col("cosine") >= minCosine)
          .select("vec_a", "vec_b", "cosine")
      } else
        buckets.as("a").join(buckets.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            round(Vec.cosine(col("a.vec"), col("b.vec")), 4).as("cosine"))
          .filter(col("cosine") >= minCosine)
          .distinct()
    graft.core.Cached(result, raw)
  }

  /** Approximate same-bucket neighbor pairs with cosine score.
    * Single-table form: fine at moderate N, but the key space is
    * 2^planes — prefer [[annLshBanded]] when the corpus is large. */
  def annLsh(embeddings: DataFrame, planes: Int, minCosine: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"), asVec(embeddings).as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), planes))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        round(Vec.cosine(col("a.vec"), col("b.vec")), 4))
      .filter(col("cosine") >= minCosine)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
  }
}
