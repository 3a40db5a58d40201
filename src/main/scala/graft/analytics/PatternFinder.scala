package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Configurable biflow pattern matching.
  *
  * Reference: applications/detection/pattern_finder/spark/pattern_finder.py
  * — YAML-driven pipeline (S7): generic filter DSL (:53-98 — F8), biflow
  * self-join pairing request/response (:168-194 — J5), feature vector
  * build (:101-131 — X14), quadratic-form distance to configured patterns
  * (simple_quadratic_form.py:30-41 — X12), distance → weighted bin
  * distribution (:200-223 — X13).
  */
object PatternFinder {

  // ----- F8: config filter DSL → Column tree ---------------------------
  /** One filter item: fields are OR-ed, values are OR-ed within a field;
    * items are AND-ed by [[filterExpr]]. A missing/null field contributes
    * false (reference semantics: pattern_finder.py:53-98 — the KeyError
    * branch — and configuration.yml:36-42).
    * Ops: ip (CIDR membership; an address netaddr rejects, such as
    * `10.0.100.300`, never matches), exists, int (set membership),
    * eq, ne, gt, ge, lt, le, nin. */
  final case class FilterItem(fields: Seq[String], op: String, values: Seq[Any] = Nil)

  object FilterItem {
    /** Single-field convenience constructor. */
    def apply(field: String, op: String): FilterItem =
      FilterItem(Seq(field), op, Nil)
    def apply(field: String, op: String, values: Seq[Any]): FilterItem =
      FilterItem(Seq(field), op, values)
  }

  private def fieldExpr(c: Column, op: String, vs: Seq[Any]): Column = op match {
    case "exists" => c.isNotNull
    case "ip"  => c.isNotNull &&
      vs.map { v =>
        // bare address = /32 (netaddr IPNetwork semantics)
        val cidr = if (v.toString.contains("/")) v.toString else v.toString + "/32"
        graft.expressions.GraftFunctions.cidrMatch(c, lit(cidr))
      }.reduce(_ || _)
    case "int" => c.isNotNull && c.isin(vs: _*)
    case "eq"  => c.isNotNull && vs.map(v => c === lit(v)).reduce(_ || _)
    case "ne"  => c.isNotNull && vs.map(v => c =!= lit(v)).reduce(_ || _)
    case "gt"  => c.isNotNull && vs.map(v => c > lit(v)).reduce(_ || _)
    case "ge"  => c.isNotNull && vs.map(v => c >= lit(v)).reduce(_ || _)
    case "lt"  => c.isNotNull && vs.map(v => c < lit(v)).reduce(_ || _)
    case "le"  => c.isNotNull && vs.map(v => c <= lit(v)).reduce(_ || _)
    case "nin" => c.isNotNull && !vs.map(v => c === lit(v)).reduce(_ || _)
    case other => throw new IllegalArgumentException(s"filter op $other")
  }

  def itemExpr(item: FilterItem): Column =
    item.fields.map(f => fieldExpr(col(f), item.op, item.values))
      .reduce(_ || _)

  def filterExpr(items: Seq[FilterItem]): Column =
    items.map(itemExpr).reduceOption(_ && _).getOrElse(lit(true))

  // ----- J5: biflow self-join ------------------------------------------

  /** Canonical biflow key of ONE flow's endpoints: sorted "port:ip"
    * strings joined by "|" (pattern_finder.py:158). Symmetric under
    * endpoint swap, so a request and its echoed/observed response map to
    * the SAME key. */
  def biflowKey: Column = concat_ws("|", sort_array(array(
    concat_ws(":", col("src_port"), col("src_ip4")),
    concat_ws(":", col("dst_port"), col("dst_ip")))))

  /** The request and response sides of the biflow self-join, each tagged
    * with [[biflowKey]]: the request is the flow with the higher src_port
    * (ephemeral → service). The optional config-driven per-flow vector
    * (X14) is evaluated once per flow BEFORE the join, so each side
    * carries its array (`req_vec`/`rsp_vec`) instead of re-deriving
    * features from carried raw columns. `carry` columns ride along on both
    * sides, prefixed `req_`/`rsp_` (e.g. event_time for the streaming
    * join's watermarks) — shared by [[biflows]] and
    * [[graft.streaming.StreamingAnalytics.biflowPairs]]. */
  def biflowSides(flows: DataFrame, vector: Seq[Column] = Nil,
                  carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val tagged = flows
      .filter(col("src_ip4").isNotNull && col("src_port").isNotNull &&
        col("dst_port").isNotNull)
      .withColumn("biflow_key", biflowKey)
    val withVec =
      if (vector.isEmpty) tagged
      else tagged.withColumn("_vec", array(vector.map(_.cast("double")): _*))
    def side(p: String) =
      (if (vector.isEmpty) Nil else Seq(col("_vec").as(s"${p}_vec"))) ++
        carry.map(c => col(c).as(s"${p}_$c"))
    val req = withVec.filter(col("src_port") > col("dst_port"))
      .select(Seq(col("biflow_key"), col("flow_id").as("req_id"),
        col("src_ip4").as("client_ip"), col("dst_ip").as("server_ip"),
        col("start_ms").as("req_start_ms"), col("end_ms").as("req_end_ms"),
        col("packets").as("req_packets"), col("bytes").as("req_bytes"))
        ++ side("req"): _*)
    val rsp = withVec.filter(col("src_port") <= col("dst_port"))
      .select(Seq(col("biflow_key"), col("flow_id").as("rsp_id"),
        col("start_ms").as("rsp_start_ms"), col("end_ms").as("rsp_end_ms"),
        col("packets").as("rsp_packets"), col("bytes").as("rsp_bytes"))
        ++ side("rsp"): _*)
    (req, rsp)
  }

  /** Pair request/response flows of one biflow ([[biflowSides]]): canonical
    * key = sorted endpoint strings ("port:ip", pattern_finder.py:158,168);
    * pairs must start within `toleranceMs` of each other
    * (configuration.yml:110).
    *
    * Equi-join on the canonical key carries the shuffle; the time window is
    * a post-join filter, so no cartesian blowup. AQE converts a small
    * response side to a runtime broadcast, while at corpus scale the same
    * declaration stays a skew-splittable shuffle join. */
  def biflows(flows: DataFrame, toleranceMs: Long = 500L,
              vector: Seq[Column] = Nil): DataFrame = {
    val (req, rsp) = biflowSides(flows, vector)
    req.join(rsp, Seq("biflow_key"))
      .filter(abs(col("req_start_ms") - col("rsp_start_ms")) <= toleranceMs)
  }

  /** The biflow comparison vector for config-driven pairs: request values
    * then response values (biflow_quadratic_form.py:30-41 sums the request
    * and response quadratic terms — identical to one quadratic form over
    * the concatenation). Requires [[biflows]] called with a `vector`. */
  def biflowVector: Column = concat(col("req_vec"), col("rsp_vec"))

  // ----- X12-X13: distance + classification ----------------------------
  /** A named pattern: reference feature vector for the quadratic form. */
  final case class Pattern(name: String, vector: Seq[Double])

  /** Feature vector per biflow pair: (req duration, req packets, req bytes,
    * rsp packets, rsp bytes) — the reference's configurable math-op vector
    * builder instantiated for the biflow case (X14). Kept as a Seq so the
    * statically-known shape can feed the codegen-friendly unrolled
    * quadratic form ([[VectorFunctions.quadraticFormDistanceUnrolled]]). */
  private def featureExprs: Seq[Column] = Seq(
    (col("req_end_ms") - col("req_start_ms")).cast("double"),
    col("req_packets").cast("double"),
    col("req_bytes").cast("double"),
    col("rsp_packets").cast("double"),
    col("rsp_bytes").cast("double"))

  /** The vector form, for callers that carry the features as one array
    * column (the stateful observation path serializes it through keyed
    * state). */
  private def featureVector: Column = array(featureExprs: _*)

  /** Quadratic-form distance of an array column to a static pattern,
    * unrolled per element so it stays inside whole-stage codegen (the
    * zip_with/aggregate form is CodegenFallback — interpreted per row).
    * Precondition: the array has exactly `w.size` elements (the config
    * loader validates pattern/vector lengths); same left-to-right fold
    * order as the HOF form, so the doubles are bit-identical. */
  private def qfd(vec: Column, w: Seq[Double]): Column =
    VectorFunctions.quadraticFormDistanceUnrolled(
      w.indices.map(i => get(vec, lit(i))), w)

  /** Distribution config (configuration.yml `distance.distribution`):
    * ascending interval upper bounds ("< interval" semantics,
    * pattern_finder.py:200-223), per-bin weights, and the report `limit`
    * the left half-sum must reach (:264-276). */
  final case class DistConfig(intervals: Seq[Double], weights: Seq[Long],
                              limit: Long) {
    require(intervals.size == weights.size, "intervals/weights length mismatch")
    /** Half split point: left = bins [0, mid), right = [mid, len). */
    val mid: Int = intervals.size / 2
  }

  /** Reference interval→bin rule (pattern_finder.py:216-221): position of
    * the first interval strictly greater than the distance, minus one;
    * distances past every interval land in the last bin, and a distance
    * below the first interval wraps to the last bin too (the reference
    * indexes `distribution[-1]` — Python negative indexing, preserved). */
  def intervalBin(dist: Column, intervals: Seq[Double]): Column = {
    // unrolled conditional sum (intervals are a short static list), not
    // size(filter(...)): the HOF is CodegenFallback and would knock the
    // enclosing projection out of whole-stage codegen. A null distance
    // counts 0 passed intervals on both forms (null predicate = drop).
    val cnt = intervals.map(iv =>
      when(lit(iv) <= dist, 1).otherwise(0)).reduce(_ + _)
    when(cnt === 0, lit(intervals.size - 1)).otherwise(cnt - 1)
  }

  /** Per-(src_ip, dst_ip) pattern report (pattern_finder.py:253-276 +
    * :334-378): each biflow pair contributes, per pattern, a one-hot
    * weighted bin vector; vectors are summed element-wise per key; a key
    * is reported iff for some pattern `sum(left half) >= limit` and
    * `left > right`; `closest_patterns` collects the qualifying pattern
    * names with the maximal left sum, in configuration order.
    *
    * The element-wise distribution-array sum (A12, sum_distributions at
    * pattern_finder.py:238-247) is expressed as one per-bin conditional
    * SUM inside a single hash aggregate — the map-side-combinable form of
    * [[graft.functions.VectorFunctions.arraySum]] (spec-pinned equal to
    * the explicit array fold), so one shuffle on (src_ip, dst_ip) carries
    * fixed-width partial sums, never per-pair arrays. */
  def patternReport(pairs: DataFrame, patterns: Seq[Pattern],
                    cfg: DistConfig): DataFrame =
    patternReportVec(pairs, patterns.map(p => (p, cfg)), featureVector)

  /** [[patternReport]] generalized for the YAML-driven pipeline (S7): an
    * explicit comparison-vector column (e.g. [[biflowVector]] from
    * config-built per-flow vectors) and a per-pattern distribution config
    * (the reference resolves intervals/weights/limit per pattern name
    * with a default fallback — pattern_finder.py:213-223, 362). */
  def patternReportVec(pairs: DataFrame, pats: Seq[(Pattern, DistConfig)],
                       vec: Column): DataFrame =
    patternReportKeyed(pairs,
      Seq("src_ip" -> col("client_ip"), "dst_ip" -> col("server_ip")),
      pats, vec)

  /** Core of the pattern report over arbitrary report-key columns — the
    * reference's `simple` vector key (one row per flow, key =
    * '-'.joined elements) and the biflow key are both instances
    * (pattern_finder.py:157-168 vs :168-194). */
  def patternReportKeyed(rows: DataFrame, keys: Seq[(String, Column)],
                         pats: Seq[(Pattern, DistConfig)],
                         vec: Column): DataFrame = {
    val binCols = pats.zipWithIndex.map { case ((p, cfg), pi) =>
      intervalBin(round(qfd(vec, p.vector), 6), cfg.intervals)
        .as(s"_bin_$pi")
    }
    val slotSums = for {
      (( _, cfg), pi) <- pats.zipWithIndex; i <- cfg.intervals.indices
    } yield sum(when(col(s"_bin_$pi") === i, lit(cfg.weights(i))).otherwise(0L))
      .as(s"_d_${pi}_$i")
    val keyNames = keys.map(_._1)
    val grouped = rows
      .select(keys.map { case (n, c) => c.as(n) } ++ binCols: _*)
      .groupBy(keyNames.head, keyNames.tail: _*)
      .agg(slotSums.head, slotSums.tail: _*)
    val distArr = pats.zipWithIndex.map { case ((_, cfg), pi) =>
      array(cfg.intervals.indices.map(i => col(s"_d_${pi}_$i")): _*)
    }
    // qual carried per pattern: left/right half-sums + that pattern's limit
    val halves = pats.zipWithIndex.map { case ((p, cfg), pi) =>
      val left = (0 until cfg.mid).map(i => col(s"_d_${pi}_$i"))
        .reduce(_ + _)
      val right = (cfg.mid until cfg.intervals.size).map(i => col(s"_d_${pi}_$i"))
        .reduce(_ + _)
      struct(lit(p.name).as("name"), left.as("left"), right.as("right"),
        lit(cfg.limit).as("limit"))
    }
    val qual = filter(array(halves: _*),
      h => h.getField("left") >= h.getField("limit") &&
        h.getField("left") > h.getField("right"))
    grouped
      .withColumn("data_array", array(pats.zipWithIndex.map {
        case ((p, _), pi) => struct(lit(p.name).as("name"),
          distArr(pi).as("distribution"))
      }: _*))
      .withColumn("_qual", qual)
      .filter(size(col("_qual")) > 0)
      .withColumn("closest_patterns",
        transform(
          filter(col("_qual"), h => h.getField("left") ===
            array_max(transform(col("_qual"), q => q.getField("left")))),
          h => h.getField("name")))
      .select(keyNames.head,
        keyNames.tail :+ "data_array" :+ "closest_patterns": _*)
  }

  /** Per-pair streaming observations for the stateful report path: key =
    * "src-dst" (the reference's result_key, pattern_finder.py:317-318),
    * ts = request start, dist = the per-pattern one-hot weighted bin
    * vectors FLATTENED patterns-major (pattern 0 bins, pattern 1 bins, …)
    * so the keyed state carries one fixed-width Array[Long]. */
  def patternObservations(pairs: DataFrame, patterns: Seq[Pattern],
                          cfg: DistConfig,
                          vec: Column = featureVector): DataFrame =
    patternObservationsKeyed(pairs,
      concat_ws("-", col("client_ip"), col("server_ip")),
      col("req_start_ms"), patterns, cfg, vec)

  /** [[patternObservations]] over an arbitrary report key / event-time
    * column — the `simple` per-flow key is the other instance. */
  def patternObservationsKeyed(rows: DataFrame, key: Column, ts: Column,
                               patterns: Seq[Pattern], cfg: DistConfig,
                               vec: Column): DataFrame = {
    val nBins = cfg.intervals.size
    val oneHots = patterns.map { p =>
      val bin = intervalBin(round(qfd(vec, p.vector), 6), cfg.intervals)
      array((0 until nBins).map(i =>
        when(bin === i, lit(cfg.weights(i))).otherwise(0L)): _*)
    }
    rows.select(
      key.as("key"),
      ts.as("ts"),
      flatten(array(oneHots: _*)).as("dist"))
  }

  /** Distance of each pair to each pattern + closest pattern pick +
    * bin distribution of the closest distance. `keep` restricts which of
    * the pair's own columns survive (default all): callers that would
    * otherwise chain their projection after classify fold it in here —
    * one analyzer pass instead of two on a sub-second plan. */
  def classify(pairs: DataFrame, patterns: Seq[Pattern],
               thresholds: Seq[Double],
               keep: Seq[String] = Nil): DataFrame = {
    val dists = patterns.map { p =>
      struct(
        round(VectorFunctions.quadraticFormDistanceUnrolled(
          featureExprs, p.vector), 6).as("distance"),
        lit(p.name).as("pattern"))
    }
    val kept = if (keep.isEmpty) pairs.columns.toSeq else keep
    // two fused selects, not five chained withColumns — every Dataset
    // transformation is an analyzer pass over the whole (deep) plan, and
    // on sub-second queries the chain shows up as driver latency
    pairs
      .select(col("*"), sort_array(array(dists: _*)).getItem(0).as("best"))
      .select(kept.map(col) :+
        col("best.pattern").as("closest_pattern") :+
        col("best.distance").as("distance") :+
        VectorFunctions.binIndex(col("best.distance"), thresholds).as("bin"): _*)
  }
}
