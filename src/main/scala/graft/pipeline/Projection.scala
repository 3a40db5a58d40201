package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{TextUtil, VectorExpressions => Vec}

/** Embedding-space projection and classification for corpus curation.
  *
  * Three operators a 100 TB training-data pipeline runs over its embedding
  * column before the expensive similarity passes:
  *
  *  - [[randomProject]] — Johnson–Lindenstrauss sign random projection
  *    (Achlioptas 2003, JCSS 66(4)): d → k with pairwise distances
  *    preserved within 1±ε. The projection matrix is DERIVED, not stored:
  *    entry (j,i) is the engine's portable 47-bit fingerprint of
  *    "seed:j:i" mod 2 → {+1,−1}, so the exact matrix is reproducible
  *    driver-side, executor-side, and in ANSI SQL for the oracle — no
  *    matrix shuffle, no random-state coordination across 1000 executors.
  *  - [[covarianceMatrix]] / [[pcaProject]] — classical PCA, structured
  *    for scale: ONE linear scan accumulates the d×d scatter matrix via
  *    map-side partial aggregation (the shuffle carries `tasks × d²`
  *    partial cells, never `N·d²`); the eigendecomposition runs on the
  *    driver over the d×d result (metadata-sized, like the IVF centroid
  *    and PQ codebook collects); the projection back over the corpus is a
  *    broadcast literal — zero extra shuffles.
  *  - [[centroidClassify]] — nearest-class-mean classification (Rocchio;
  *    the closed-form cousin of the fastText-style quality filters used
  *    by CCNet/DCLM corpus curation): class means in one aggregate pass
  *    over the labeled split, broadcast, one map-side argmin to score the
  *    corpus. Training is SQL-expressible, so train AND inference are
  *    oracle-checked end-to-end — no iterative fit to replicate.
  *
  * All float paths keep the engine's pinned left-fold summation order
  * (see VectorFunctions) and round emitted doubles to 6 places, so
  * results hash-match the DuckDB oracle bit-for-bit.
  */
object Projection {

  /** Driver-side twin of TextFunctions.fingerprint / TextUtil.polyHash47:
    * fold (acc*31 + char) mod 2^47−115 over UTF-16 chars. */
  private[pipeline] def fp47(s: String): Long = {
    var acc = 0L
    var j = 0
    while (j < s.length) { acc = (acc * 31 + s.charAt(j)) % TextUtil.Mod47; j += 1 }
    acc
  }

  /** The derived ±1 projection matrix, row-major (outDim rows × dim cols):
    * sign(j,i) = +1 iff mix(fp47("seed:j:i")) is even. Deterministic and
    * portable — DuckDB reproduces it from the same arithmetic.
    *
    * The avalanche step is REQUIRED, not decorative: the rolling fold is
    * affine in the key's characters (h' = 31·h + c mod M), so any single
    * bit of the raw fingerprint is a near-linear function of the digits
    * of j and i — raw-parity sign rows come out mutually IDENTICAL up to
    * global sign (measured: mean |row·row|/d = 1.0), which collapses the
    * projection to rank ≤ 2 and destroys the JL guarantee. Two squaring
    * passes modulo the Mersenne prime 2^31−1 are the cheapest nonlinear
    * mix whose intermediates fit Int64 ((2^31)² + 1 < 2^63 — DuckDB
    * BIGINT overflow is an error, not a wrap); measured sign statistics
    * (row balance, pairwise row coherence) then match a seeded PRNG's. */
  private[pipeline] def mixSign(h47: Long): Double = {
    val p = 2147483647L // 2^31 − 1
    var h = h47 % p
    h = (h * h + 1L) % p
    h = (h * h + 1L) % p
    if (h % 2 == 0) 1.0d else -1.0d
  }

  private[pipeline] def rpSigns(dim: Int, outDim: Int, seed: String): Seq[Seq[Double]] =
    (0 until outDim).map { j =>
      (0 until dim).map(i => mixSign(fp47(s"$seed:$j:$i")))
    }

  /** Sign random projection of `embedding` (length `dim`) to `outDim`
    * components: y_j = (Σ_i sign(j,i)·x_i) / √outDim, each component
    * rounded to 6 places. Output: (vec_id, proj ARRAY<DOUBLE>).
    *
    * Per-row work is a k×d literal-matrix multiply in a narrow `select`
    * — no shuffle, no UDF, fully pipelined with the scan. Use ahead of
    * the ANN tier: distances survive within the JL distortion bound
    * (spec-asserted), while every downstream pair comparison pays k
    * instead of d multiplies.
    */
  def randomProject(embeddings: DataFrame, dim: Int, outDim: Int = 16,
                    seed: String = "rp"): DataFrame = {
    require(outDim >= 1 && dim >= 1, "dims must be >= 1")
    val signs = typedLit(rpSigns(dim, outDim, seed))
    val v = col("embedding").cast("array<double>")
    val scale = math.sqrt(outDim.toDouble)
    embeddings.select(
      col("vec_id"),
      transform(signs, row =>
        round(Vec.dot(row, v) / lit(scale), 6)).as("proj"))
  }

  /** Sample covariance matrix of the embedding column, as (i, j, cov)
    * rows — cov = (Σx_i·x_j − Σx_i·Σx_j/n) / (n−1), rounded to 6.
    *
    * Shape for scale: each row emits its flattened d×d outer product via
    * `posexplode(flatten(...))` (pos = i·d + j), which the hash aggregate
    * combines MAP-SIDE — the shuffle carries one partial d² vector per
    * task, not N·d² cells. The per-dimension sums ride the same pass as
    * d of those cells' marginals would, but are cheaper recomputed from a
    * second slim posexplode of the (already pruned) vector column.
    */
  /** Dimension-wise mean pooling of embeddings by a group column — the
    * chunk→document (or doc→source/label) embedding aggregation step: a
    * long document is embedded per chunk, and retrieval/dedup over whole
    * documents wants one pooled vector. One posexplode + (group, dim)
    * hash aggregate (map-side combinable — a million-chunk group
    * collapses per task) and a per-group sorted re-assembly; means are
    * rounded to 6 dp so re-assembled vectors are engine-stable. */
  def meanPool(vecs: DataFrame, groupCol: String = "doc_id"): DataFrame =
    vecs.select(col(groupCol), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col(groupCol), col("pos")).agg(round(avg("col"), 6).as("m"))
      .groupBy(col(groupCol)).agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("embedding"),
        count(lit(1)).as("dims"))

  def covarianceMatrix(embeddings: DataFrame): DataFrame =
    covarianceCells(embeddings, round6 = true)

  /** [[covarianceMatrix]] with the oracle rounding optional: the
    * Rayleigh–Ritz step of [[pcaProjectPower]] consumes the UNROUNDED
    * cells — a 1e-6 absolute quantization on a k×k matrix whose
    * eigenvalues can sit below 1e-6 (unit-norm embeddings at large d
    * spread trace ≤ 1 over many dims) would decide component order and
    * mixing by rounding noise. The public form keeps round(6): its
    * contract is hash parity with the SQL oracle. */
  private[pipeline] def covarianceCells(embeddings: DataFrame,
                                        round6: Boolean): DataFrame = {
    val e = embeddings.select(col("embedding").cast("array<double>").as("v"))
    val d = size(col("v"))
    val cells = e
      .select(col("v"), posexplode(flatten(transform(sequence(lit(0), d - 1), i =>
        transform(sequence(lit(0), size(col("v")) - 1), j =>
          element_at(col("v"), i + 1) * element_at(col("v"), j + 1)))))
        .as(Seq("pos", "xy")))
      .groupBy(col("pos")).agg(sum(col("xy")).as("sxy"))
    val dims = e
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val dAtMost = dims // d rows: broadcast twice onto the d² cells
    val dimCount = dims.count() // metadata-sized: d (e.g. 64)
    val raw = (col("sxy") - col("sxi") * col("sxj") / col("n")) /
      (col("n") - 1)
    cells
      .withColumn("i", (col("pos") / lit(dimCount)).cast("int"))
      .withColumn("j", (col("pos") % lit(dimCount)).cast("int"))
      .join(broadcast(dAtMost.select(col("i"), col("sx").as("sxi"), col("n"))), Seq("i"))
      .join(broadcast(dAtMost.select(col("i").as("j"), col("sx").as("sxj"))), Seq("j"))
      .select(col("i"), col("j"),
        // + 0.0 normalizes IEEE -0.0 to +0.0 so the serialized sign bit
        // matches the oracle's (which applies the same normalization)
        (if (round6) round(raw, 6) + lit(0.0) else raw).as("cov"))
  }

  /** Per-dimension means of the `v` array column — the d-row metadata
    * collect shared by both PCA paths (their spec-pinned parity requires
    * the SAME centering). */
  private def dimMeans(e: DataFrame): Array[Double] = e
    .select(posexplode(col("v")).as(Seq("i", "x")))
    .groupBy(col("i")).agg(avg(col("x")).as("mu"))
    .collect().sortBy(_.getInt(0)).map(_.getDouble(1))

  /** PCA projection to the top-`k` principal components. One covariance
    * pass ([[covarianceMatrix]]) → driver-side Jacobi eigendecomposition
    * of the d×d matrix (metadata-sized — same discipline as the IVF
    * centroid collect) → mean-centered projection through a broadcast
    * literal basis. Output: (vec_id, proj ARRAY<DOUBLE>) with components
    * in descending-eigenvalue order, rounded to 6.
    *
    * Eigenvector signs are canonicalized (largest-|component| entry made
    * positive, ties to the earliest index) so the output is deterministic
    * across runs — Jacobi is itself deterministic, but the sign of an
    * eigenvector is not mathematically pinned.
    *
    * Envelope: d² covariance cells and the O(d³) driver solve are
    * metadata up to d ≈ 512; past that use [[pcaProjectPower]], which
    * never forms the d×d matrix. */
  /** The exact (mu, basis-rows) pair [[pcaProject]] projects through —
    * covariance pass, Jacobi eigen, canonical signs, descending
    * eigenvalue order. Exposed so the full-corpus oracle can bake the
    * SAME driver-side values into its SQL and re-derive every projected
    * component with identical left-fold arithmetic: the basis derivation
    * is bracketed by the covariance oracle and the analytic fixture
    * (q_embed_pca_fixture), and this closes the projection pass itself
    * at corpus scale. Deterministic given the data (rounded covariance
    * cells, deterministic Jacobi, pinned sign canon). */
  def pcaMuBasis(embeddings: DataFrame, k: Int): (Seq[Double], Seq[Seq[Double]]) = {
    val stats = covarianceMatrix(embeddings).collect() // d² rows — metadata
    val d = math.sqrt(stats.length.toDouble).round.toInt
    val cov = Array.ofDim[Double](d, d)
    stats.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val (_, vecs) = Eigen.symmetric(cov) // descending eigenvalues
    require(k >= 1 && k <= d, s"k must be in [1, $d]")
    val mdims = dimMeans(embeddings
      .select(col("embedding").cast("array<double>").as("v"))) // d rows
    (mdims.toSeq, (0 until k).map(c => vecs(c).toSeq))
  }

  def pcaProject(embeddings: DataFrame, k: Int): DataFrame = {
    val (mdims, basisRows) = pcaMuBasis(embeddings, k)
    val basis = typedLit(basisRows)
    val mu = typedLit(mdims)
    val centered = zip_with(col("embedding").cast("array<double>"), mu,
      (x, m) => x - m)
    embeddings.select(
      col("vec_id"),
      // + 0.0 normalizes IEEE -0.0 → 0.0, matching covarianceCells and
      // the fixture oracle's `round(...,6) + 0.0`: a component rounding
      // to zero must hash identically on both engines
      transform(basis, w => round(Vec.dot(w, centered), 6) + lit(0.0))
        .as("proj"))
  }

  /** Distributed twin of [[pcaProject]] for LARGE embedding dims — block
    * power (subspace) iteration run directly against the corpus, so the
    * d×d covariance is NEVER materialized (at d = 10⁵ it would be 10¹⁰
    * cells and the driver solve O(d³)):
    *
    *  - Each iteration multiplies the sample covariance into the current
    *    d×k basis with ONE linear scan: k dot products per row against
    *    the broadcast-literal basis, then a posexplode(d) fanout whose
    *    per-(dim, component) products map-side-combine — the shuffle
    *    carries `tasks × d×k` partial sums, never `N·d` data.
    *  - Driver-side numerics stay metadata-sized in d: a modified
    *    Gram–Schmidt of the d×k iterate per round, and one final k×k
    *    Rayleigh–Ritz step ([[covarianceMatrix]] of the k-dim projected
    *    frame + [[Eigen.symmetric]]) that un-mixes any residual rotation
    *    inside the converged subspace and pins component order to
    *    descending eigenvalues.
    *  - The start basis is the derived deterministic ±1 matrix of
    *    [[randomProject]] (seeded fingerprints, orthonormalized), so runs
    *    reproduce without random-state coordination across executors.
    *
    * Output contract matches [[pcaProject]]: (vec_id, proj ARRAY<DOUBLE>),
    * descending-eigenvalue component order, canonical signs, rounded to 6;
    * ProjectionSpec pins power == Jacobi on the same input up to rounding
    * tolerance. Prefer [[pcaProject]] below d ≈ 512 — one covariance pass
    * beats `iters` corpus scans there; switch to this path when d² cells
    * or the O(d³) driver solve stop being metadata. Convergence: `iters`
    * fixed scans (error ∝ (λ_{k+1}/λ_k)^iters — raise it for near-tied
    * spectra). */
  def pcaProjectPower(embeddings: DataFrame, k: Int, iters: Int = 12,
                      seed: String = "pca"): DataFrame = {
    require(iters >= 1, "iters must be >= 1 — with no iteration the " +
      "output would be a seeded random projection, not PCA")
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val mdims = dimMeans(e) // d rows — metadata
    val d = mdims.length
    require(k >= 1 && k <= d, s"k must be in [1, $d]")
    val mu = typedLit(mdims.toSeq)
    // centered vectors, persisted for the iteration's repeated scans (the
    // standard trade for iterative methods; recomputing from source costs
    // one extra decode per scan instead of the cache)
    val cen = e.select(col("vec_id"),
      zip_with(col("v"), mu, (x, m) => x - m).as("c")).persist()
    try {
      var q = gramSchmidt(rpSigns(d, k, seed).map(_.toArray).toArray)
      var it = 0
      while (it < iters) {
        val qLit = typedLit(q.map(_.toSeq).toSeq)
        val sums = (0 until k).map(c =>
          sum(col("x") * col("s").getItem(c)).as(s"m$c"))
        val rows = cen
          .select(col("c"),
            transform(qLit, w => Vec.dot(w, col("c"))).as("s"))
          .select(posexplode(col("c")).as(Seq("i", "x")), col("s"))
          .groupBy(col("i")).agg(sums.head, sums.tail: _*)
          .collect() // d rows × k cols — metadata
        val m = Array.ofDim[Double](k, d)
        rows.foreach { r =>
          val i = r.getInt(0)
          var c = 0
          while (c < k) { m(c)(i) = r.getDouble(c + 1); c += 1 }
        }
        q = gramSchmidt(m)
        it += 1
      }
      // Rayleigh–Ritz: exact eigenstructure of the covariance RESTRICTED
      // to span(q) — covariance of the k-dim projections is QᵀCQ.
      // UNROUNDED cells: the oracle round(6) would quantize eigenvalues
      // that legitimately sit below 1e-6 (see covarianceCells)
      val qLit = typedLit(q.map(_.toSeq).toSeq)
      val bCells = covarianceCells(
        cen.select(col("vec_id"),
          transform(qLit, w => Vec.dot(w, col("c"))).as("embedding")),
        round6 = false)
        .collect() // k² cells — metadata
      val b = Array.ofDim[Double](k, k)
      bCells.foreach(r => b(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      val (_, rot) = Eigen.symmetric(b) // descending eigenvalues
      val basisRows = rot.map { rc =>
        val w = Array.ofDim[Double](d)
        var a = 0
        while (a < k) {
          val s = rc(a); val qa = q(a)
          var i = 0
          while (i < d) { w(i) += s * qa(i); i += 1 }
          a += 1
        }
        // re-canonicalize after composing: Eigen pinned the sign of the
        // k-dim rotation row, not of the composed d-dim direction
        val pivot = w.indices.maxBy(i => (math.abs(w(i)), -i))
        if (w(pivot) < 0) w.map(x => -x) else w
      }
      val basis = typedLit(basisRows.map(_.toSeq).toSeq)
      val centered = zip_with(col("embedding").cast("array<double>"), mu,
        (x, m) => x - m)
      embeddings.select(
        col("vec_id"),
        // + 0.0: -0.0 → 0.0, same engine-parity reason as pcaProject
        transform(basis, w => round(Vec.dot(w, centered), 6) + lit(0.0))
          .as("proj"))
    } finally cen.unpersist()
  }

  /** Train an L2-regularized binary logistic-regression filter over the
    * embedding column — the TRAINED form of the corpus quality filter
    * ([[centroidClassify]] is its closed-form cousin; the Naive Bayes in
    * TextPipeline the lexical one; CCNet/DCLM-style curation runs exactly
    * this shape as a linear quality classifier over document vectors).
    *
    * Full-batch gradient descent in the same scale discipline as
    * [[pcaProjectPower]]: each iteration is ONE linear scan — per row a
    * `σ(w·x + b) − y` residual (the bias rides as a virtual all-ones
    * dimension), then a posexplode(d+1) fanout whose per-dimension
    * products map-side-combine, so the shuffle carries
    * `tasks × (d+1)` partial gradient cells and the driver state is the
    * (d+1)-weight vector — metadata at any corpus size. Deterministic:
    * zero init, fixed step and iteration count, no sampling.
    *
    * `labeled`: (embedding, label) with label ∈ {0, 1}. Returns d weights
    * followed by the bias. Mean log-loss gradient + `l2`·w (bias
    * unregularized, the standard convention).
    *
    * `init` warm-starts from a previous fit — the incremental posture for
    * a growing corpus (continue on the refreshed split instead of
    * refitting cold). GD is deterministic, so on UNCHANGED data
    * `trainLogistic(iters = a + b)` equals `trainLogistic(iters = b,
    * init = trainLogistic(iters = a))` (spec-pinned to float-sum
    * tolerance). */
  def trainLogistic(labeled: DataFrame, iters: Int = 60, step: Double = 2.0,
                    l2: Double = 0.0,
                    init: Option[Array[Double]] = None): Array[Double] = {
    require(iters >= 1, "iters must be >= 1 — zero iterations would " +
      "silently return the untrained all-zero model")
    val data = labeled.select(
      concat(col("embedding").cast("array<double>"), array(lit(1.0))).as("xa"),
      col("label").cast("double").as("y")).persist()
    try {
      // ONE stats job (also materializes the persist): null or ragged
      // rows would silently vanish from every gradient sum (null dot →
      // null product → sum skips it) while still counting in n — refuse
      // them loudly instead of training on a biased fraction
      val stats = data.agg(
        count(lit(1)).as("n"),
        min(size(col("xa"))).as("dmin"),
        max(size(col("xa"))).as("dmax"),
        sum(when(col("xa").isNull || col("y").isNull ||
          col("y") < 0.0 || col("y") > 1.0, 1L).otherwise(0L)).as("bad"))
        .head()
      val n = stats.getLong(0).toDouble
      require(n > 0, "empty training frame")
      require(stats.getLong(3) == 0,
        s"${stats.getLong(3)} rows have a null embedding, or a null " +
          "label, or a label outside [0, 1]")
      require(stats.getInt(1) == stats.getInt(2),
        s"ragged embedding lengths: ${stats.getInt(1)}..${stats.getInt(2)}")
      val dp1 = stats.getInt(1)
      val w = init match {
        case Some(w0) =>
          require(w0.length == dp1,
            s"init has ${w0.length} weights, data needs $dp1 (d + bias)")
          w0.clone()
        case None => Array.fill(dp1)(0.0)
      }
      var it = 0
      while (it < iters) {
        val wLit = typedLit(w.toSeq)
        val z = Vec.dot(wLit, col("xa"))
        val resid = (lit(1.0) / (lit(1.0) + exp(-z))) - col("y")
        val rows = data
          .select(col("xa"), resid.as("r"))
          .select(posexplode(col("xa")).as(Seq("i", "xi")), col("r"))
          .groupBy(col("i")).agg(sum(col("xi") * col("r")).as("g"))
          .collect() // d+1 rows — metadata
        val g = Array.ofDim[Double](dp1)
        rows.foreach(r => g(r.getInt(0)) = r.getDouble(1) / n)
        var i = 0
        while (i < dp1) {
          val reg = if (i == dp1 - 1) 0.0 else l2 * w(i) // bias unpenalized
          w(i) -= step * (g(i) + reg)
          i += 1
        }
        it += 1
      }
      w
    } finally data.unpersist()
  }

  /** Score the corpus with a [[trainLogistic]] model: map-only projection
    * through the broadcast-literal weights — (vec_id, score) with
    * score = σ(w·x + b) rounded to 6. Filter `score >= threshold`
    * downstream; no shuffle anywhere. */
  def logisticScore(embeddings: DataFrame, weights: Seq[Double]): DataFrame = {
    val wLit = typedLit(weights.toSeq)
    val z = Vec.dot(wLit,
      concat(col("embedding").cast("array<double>"), array(lit(1.0))))
    embeddings.select(col("vec_id"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"))
  }

  /** Loud eval inputs at zero extra jobs: the checks ride the corpus
    * pass as in-plan raise_error branches (the trainLogistic-refusal
    * convention) — a null score or a label outside {0,1} would
    * otherwise silently count as a negative and bias every metric in
    * this tier. */
  private def checkedScore(scoreCol: String, op: String): Column =
    when(col(scoreCol).isNotNull, col(scoreCol))
      .otherwise(raise_error(lit(
        s"$op: null score — score the corpus before evaluating it")))

  private def checkedLabel(labelCol: String, op: String): Column =
    when(col(labelCol) === 1, 1L).when(col(labelCol) === 0, 0L)
      .otherwise(raise_error(concat(lit(s"$op: label "),
        coalesce(col(labelCol).cast("string"), lit("null")),
        lit(" is not 0/1 — eval over dirty labels silently miscounts"))))

  /** Tie-corrected Mann–Whitney AUC of a score column against a binary
    * label — the eval every trained quality filter needs before its
    * threshold censors a corpus (a filter at AUC 0.5 is deleting random
    * documents). `AUC = (Σ avg-rank of positives − P(P+1)/2) / (P·N)`
    * with average ranks for ties.
    *
    * The naive spelling ranks N rows through `rank() OVER (ORDER BY
    * score)` — an empty-partition window, every row through ONE task,
    * the first thing to die at 100 TB. Here the rank work rides
    * [[graft.scale.Ids.prefixSum]]: one map-side-combinable aggregate to
    * per-distinct-score tallies `(cnt, pos)`, a distributed exclusive
    * prefix count in score order (avg rank = before + (cnt+1)/2 — tie
    * handling is exact, not approximated), and a scalar fold. Shuffle
    * carries one row per distinct score, never the corpus.
    *
    * Returns one row `(n_pos, n_neg, auc)`, auc rounded to 6 (null when
    * a class is empty — AUC is undefined there, and silently reporting
    * 0 or 1 would read as a perfect/terrible filter). */
  def aucEval(scored: DataFrame, scoreCol: String = "score",
              labelCol: String = "label"): DataFrame = {
    val tallies = scored
      .groupBy(checkedScore(scoreCol, "aucEval").as("__s"))
      .agg(count(lit(1)).as("__cnt"),
        sum(checkedLabel(labelCol, "aucEval")).as("__pos"))
    graft.scale.Ids.prefixSum(tallies, Seq("__s"), col("__cnt"), "__before")
      .agg(
        sum(col("__pos")).as("__p"),
        sum(col("__cnt") - col("__pos")).as("__n"),
        sum(col("__pos") * (col("__before") + (col("__cnt") + 1) / 2.0))
          .as("__rsum"))
      .select(
        col("__p").as("n_pos"),
        col("__n").as("n_neg"),
        when(col("__p") > 0 && col("__n") > 0,
          round((col("__rsum") - col("__p") * (col("__p") + 1) / 2.0) /
            (col("__p") * col("__n")), 6)).as("auc"))
  }

  /** Average precision (area under the precision–recall curve, step
    * interpolation): `AP = Σ_k ΔR_k · P_k` over descending-score cuts,
    * one cut per distinct score with ties collapsed into a single step
    * — the ranking metric that, unlike [[aucEval]], doesn't reward a
    * model for ordering the (at 100 TB, overwhelming) negative tail.
    *
    * Same scale shape as aucEval, plus one insight: the DESCENDING
    * cumulative tp/n a PR curve needs is just `total − ascending
    * exclusive prefix`, so both cumulatives come from
    * [[graft.scale.Ids.prefixSumWithTotal]] over the distinct-score
    * tally frame (two tally-sized passes, never a corpus window; the
    * totals are free). Products are cast to double BEFORE multiplying —
    * `npos·N` overflows Long at corpus scale. One row `(n_pos, n_neg,
    * average_precision)`; AP null when there are no positives. */
  def averagePrecision(scored: DataFrame, scoreCol: String = "score",
                       labelCol: String = "label"): DataFrame = {
    val tallies = scored
      .groupBy(checkedScore(scoreCol, "averagePrecision").as("__s"))
      .agg(count(lit(1)).as("__cnt"),
        sum(checkedLabel(labelCol, "averagePrecision")).as("__pos"))
    val (withCnt, nTot) = graft.scale.Ids.prefixSumWithTotal(
      tallies, Seq("__s"), col("__cnt"), "__cntBefore")
    val (withBoth, pTot) = graft.scale.Ids.prefixSumWithTotal(
      withCnt, Seq("__s"), col("__pos"), "__posBefore")
    // cut at score s (inclusive, descending): tp = pTot − posBefore(s),
    // predicted-positive = nTot − cntBefore(s); the step's ΔR = pos/pTot
    val term = col("__pos").cast("double") *
      (lit(pTot) - col("__posBefore")).cast("double") /
      (lit(pTot).cast("double") * (lit(nTot) - col("__cntBefore"))
        .cast("double"))
    withBoth
      .agg(sum(when(lit(pTot) > 0L, term)).as("__ap"))
      .select(lit(pTot).as("n_pos"), lit(nTot - pTot).as("n_neg"),
        when(lit(pTot) > 0L, round(col("__ap"), 6))
          .as("average_precision"))
  }

  /** Operating-point sweep for a scored corpus: tp/fp/fn and
    * precision/recall/F1 at each candidate threshold — how a filter's
    * cut point is actually chosen once [[aucEval]] says the ranking is
    * worth thresholding. Same scale shape as aucEval: ONE corpus pass
    * to per-distinct-score tallies, then the threshold grid fans out
    * over the TALLY frame (distinct-scores × T rows, never corpus × T)
    * and collapses in a map-side-combinable aggregate. Division-free
    * corners stay null (no fake 0 precision at an empty cut). */
  def prAtThresholds(scored: DataFrame, thresholds: Seq[Double],
                     scoreCol: String = "score",
                     labelCol: String = "label"): DataFrame = {
    require(thresholds.nonEmpty, "prAtThresholds needs at least one threshold")
    val tallies = scored
      .groupBy(checkedScore(scoreCol, "prAtThresholds").as("__s"))
      .agg(count(lit(1)).as("__cnt"),
        sum(checkedLabel(labelCol, "prAtThresholds")).as("__pos"))
    val p = col("__tp") + col("__fp")
    val r = col("__tp") + col("__fn")
    val prec = col("__tp") / p
    val rec = col("__tp") / r
    tallies
      .select(col("__s"), col("__cnt"), col("__pos"),
        explode(typedLit(thresholds.sorted)).as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("__s") >= col("threshold"), col("__pos"))
          .otherwise(0L)).as("__tp"),
        sum(when(col("__s") >= col("threshold"), col("__cnt") - col("__pos"))
          .otherwise(0L)).as("__fp"),
        sum(when(col("__s") < col("threshold"), col("__pos"))
          .otherwise(0L)).as("__fn"))
      .select(col("threshold"),
        col("__tp").as("tp"), col("__fp").as("fp"), col("__fn").as("fn"),
        // "prec", not "precision": DOUBLE PRECISION is a type keyword in
        // ANSI SQL engines, and the oracle must alias the same name
        when(p > 0, round(prec, 6)).as("prec"),
        when(r > 0, round(rec, 6)).as("recall"),
        when(p > 0 && r > 0 && prec + rec > 0,
          round(lit(2.0) * prec * rec / (prec + rec), 6)).as("f1"))
      .orderBy("threshold")
  }

  /** Reliability table for a probability-like score in [0, 1): `bins`
    * equal-width buckets × (count, mean score, empirical positive rate)
    * — the per-bin |mean − rate| gaps are what an expected-calibration-
    * error report sums. One map-side-combinable aggregate; the bin key
    * is pure arithmetic on the score (no transcendentals), so binning
    * is reproducible bit-for-bit in ANSI SQL for the oracle. */
  def calibrationBins(scored: DataFrame, bins: Int = 10,
                      scoreCol: String = "score",
                      labelCol: String = "label"): DataFrame = {
    require(bins >= 2, "calibrationBins needs at least 2 bins")
    scored
      .groupBy(least(floor(checkedScore(scoreCol, "calibrationBins") * bins),
        lit(bins - 1)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col(scoreCol)), 6).as("mean_score"),
        round(avg(checkedLabel(labelCol, "calibrationBins").cast("double")), 6)
          .as("pos_rate"))
      .orderBy("bin")
  }

  /** Modified Gram–Schmidt over row vectors; throws if the rows are
    * numerically rank-deficient (k above the data's rank). The deficiency
    * threshold is RELATIVE to the largest input-row norm — the iterate's
    * scale is the scatter's (data-dependent, arbitrarily far from 1), so
    * an absolute cutoff would both spuriously throw on tiny-magnitude
    * data and miss genuine deficiency on huge corpora. */
  private def gramSchmidt(rows: Array[Array[Double]]): Array[Array[Double]] = {
    val k = rows.length
    val d = rows(0).length
    val out = rows.map(_.clone())
    val scale = math.sqrt(
      rows.map(r => r.map(x => x * x).sum).max)
    var c = 0
    while (c < k) {
      var p = 0
      while (p < c) {
        var dp = 0.0
        var i = 0
        while (i < d) { dp += out(c)(i) * out(p)(i); i += 1 }
        i = 0
        while (i < d) { out(c)(i) -= dp * out(p)(i); i += 1 }
        p += 1
      }
      var n2 = 0.0
      var i = 0
      while (i < d) { n2 += out(c)(i) * out(c)(i); i += 1 }
      val n = math.sqrt(n2)
      require(n > scale * 1e-10,
        s"power-iteration basis went rank-deficient at component $c " +
          "(k exceeds the data's numerical rank)")
      i = 0
      while (i < d) { out(c)(i) /= n; i += 1 }
      c += 1
    }
    out
  }

  /** Nearest-class-mean classification over the labeled embedding table.
    *
    * Train split = rows with vec_id % `testMod` != 0; the class mean for
    * each label is one posexplode → hash aggregate (map-side combinable),
    * components rounded to 6 BEFORE distance so the argmin below is
    * stable against cross-row float-sum ordering on either engine. The
    * test split scores against the broadcast centroid table with the
    * codegen'd L2 expression; prediction = lowest (distance, label) —
    * fully deterministic, fully SQL-expressible, so training and
    * inference are both oracle-checked. Output: (vec_id, label,
    * predicted).
    */
  def centroidClassify(embeddings: DataFrame, testMod: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") % testMod =!= 0)
      .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("clabel"), col("i")).agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cvec"))
    e.filter(col("vec_id") % testMod === 0)
      .crossJoin(broadcast(cents))
      .withColumn("d2", round(Vec.l2Squared(col("v"), col("cvec")), 6))
      .groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("predicted"))
  }
}

/** Driver-side symmetric eigendecomposition (cyclic Jacobi) for the d×d
  * matrices PCA collects — d is the embedding width (64 here), so this is
  * O(d³) on metadata, never on corpus data. Deterministic: fixed sweep
  * order, fixed convergence threshold, canonicalized eigenvector signs.
  */
private[pipeline] object Eigen {

  /** Eigenvalues (descending) and matching eigenvectors (rows of the
    * returned matrix) of a symmetric matrix. */
  def symmetric(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 100 && offDiag(a) > 1e-12) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) rotate(a, v, p, q)
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { c =>
      val col = Array.tabulate(d)(r => v(r)(c))
      // canonical sign: the largest-|x| component (earliest on ties) > 0
      val pivot = col.indices.maxBy(i => (math.abs(col(i)), -i))
      if (col(pivot) < 0) col.map(x => -x) else col
    }.toArray
    (vals, vecs)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  /** One Jacobi rotation zeroing a(p)(q), accumulating into v. */
  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
                     p: Int, q: Int): Unit = {
    val d = a.length
    val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
    // t = sgn(θ)/(|θ|+√(θ²+1)), with θ=0 → t=1 (the 45° rotation)
    val base = math.abs(theta) + math.sqrt(theta * theta + 1.0)
    val t = if (theta >= 0) 1.0 / base else -1.0 / base
    val c = 1.0 / math.sqrt(t * t + 1.0)
    val s = t * c
    val tau = s / (1.0 + c)
    val apq = a(p)(q)
    a(p)(p) -= t * apq
    a(q)(q) += t * apq
    a(p)(q) = 0.0
    a(q)(p) = 0.0
    var i = 0
    while (i < d) {
      if (i != p && i != q) {
        val aip = a(i)(p); val aiq = a(i)(q)
        a(i)(p) = aip - s * (aiq + tau * aip); a(p)(i) = a(i)(p)
        a(i)(q) = aiq + s * (aip - tau * aiq); a(q)(i) = a(i)(q)
      }
      val vip = v(i)(p); val viq = v(i)(q)
      v(i)(p) = vip - s * (viq + tau * vip)
      v(i)(q) = viq + s * (vip - tau * viq)
      i += 1
    }
  }
}
