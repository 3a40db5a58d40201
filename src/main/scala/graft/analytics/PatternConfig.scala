package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** S7: the reference's YAML-driven pattern_finder configuration
  * (applications/detection/pattern_finder/spark/configuration.yml, loaded
  * at pattern_finder.py:436-453) parsed into the engine's typed config —
  * filter items (F8), biflow key + tolerance (J5), vector value
  * definitions (X14), output fields, per-pattern distance/distribution
  * settings (X12/X13) and the window/slice timing.
  *
  * Element names in the YAML are the `ipfix.*` wire keys; they are mapped
  * to engine columns via [[graft.core.FlowSchema.jsonFieldMap]] (names
  * already in engine form pass through, so configs can be written against
  * either naming).
  */
object PatternConfig {

  // ----- typed config ----------------------------------------------------

  /** One vectors.values entry (configuration.yml:118-133). `kind` ∈
    * element | direct | operation | module | default_function. */
  final case class VectorValue(kind: String, element: Seq[String] = Nil,
                               value: Double = 0.0, operator: String = "",
                               name: String = "")

  /** One additional-output field (configuration.yml:141-148). */
  final case class OutputField(name: String, element: String, side: String)

  /** Biflow key element mapping + pairing tolerance
    * (configuration.yml:100-110). */
  final case class BiflowKey(srcIp: String, dstIp: String, srcPort: String,
                             dstPort: String, flowStart: String,
                             toleranceMs: Long)

  final case class Config(
      name: String, windowSec: Long, sliceSec: Long,
      filters: Seq[PatternFinder.FilterItem],
      keyType: String, // "biflow" | "simple"
      biflowKey: Option[BiflowKey],
      simpleKey: Seq[String], // engine columns forming the simple key
      values: Seq[VectorValue],
      outputs: Seq[OutputField],
      distanceModule: String,
      patterns: Seq[(PatternFinder.Pattern, PatternFinder.DistConfig)]) {
    /** Report throttle interval = the configured window (seconds),
      * check_if_report at pattern_finder.py:316-331. */
    def reportIntervalMs: Long = windowSec * 1000L
  }

  // ----- YAML parsing ----------------------------------------------------

  private val wireToEngine: Map[String, String] =
    graft.core.FlowSchema.jsonFieldMap.toMap

  /** Wire `ipfix.*` key → engine column (pass-through when already an
    * engine column name). */
  def engineColumn(element: String): String =
    wireToEngine.getOrElse(element, element)

  private def asMap(o: Any): Map[String, Any] = o match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap
    case null => Map.empty
    case other => throw new IllegalArgumentException(s"expected map, got $other")
  }
  private def asList(o: Any): Seq[Any] = o match {
    case l: java.util.List[_] => l.asScala.toSeq
    case null => Nil
    case other => throw new IllegalArgumentException(s"expected list, got $other")
  }
  private def asDouble(o: Any): Double = o match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }
  private def asLong(o: Any): Long = o match {
    case n: Number => n.longValue()
    case s: String => s.toLong
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }

  /** Parse a reference-shaped configuration.yml document. */
  def parse(yamlText: String): Config = {
    val root = asMap(new org.yaml.snakeyaml.Yaml().load[Any](yamlText))

    val conf = asMap(root.getOrElse("configuration", null))
    val name = conf.getOrElse("name", "pattern_finder").toString
    val windowSec = conf.get("window").map(asLong).getOrElse(300L)
    val sliceSec = conf.get("slice").map(asLong).getOrElse(5L)

    // filter items: element_names OR-ed, values OR-ed, items AND-ed; the
    // reference spells the operand key `values` for set ops and `value`
    // for comparisons (pattern_finder.py:54-100) — accept both
    val filters = asList(root.getOrElse("filter", null)).map { f =>
      val m = asMap(f)
      val fields = asList(m.getOrElse("element_names", null))
        .map(e => engineColumn(e.toString))
      val op = m.getOrElse("type", "exists").toString
      val values = asList(m.getOrElse("values", m.getOrElse("value", null)))
        .map {
          case n: Number => n.longValue(): Any
          case s => s.toString: Any
        }
      PatternFinder.FilterItem(fields, op, values)
    }

    val vectors = asMap(root.getOrElse("vectors", null))
    val keyMap = asMap(vectors.getOrElse("key", null))
    val keyType = keyMap.getOrElse("type", "simple").toString
    val biflowKey =
      if (keyType != "biflow") None
      else {
        val els = asMap(keyMap.getOrElse("elements", null))
        def el(k: String) = engineColumn(els.getOrElse(k, k).toString)
        Some(BiflowKey(el("src_ip"), el("dst_ip"), el("src_port"),
          el("dst_port"), el("flow_start"),
          keyMap.get("time_difference").map(asLong).getOrElse(500L)))
      }
    // simple key: a flat element list joined '-' per flow
    // (pattern_finder.py:157-168)
    val simpleKey =
      if (keyType != "simple") Nil
      else asList(keyMap.getOrElse("elements", null))
        .map(e => engineColumn(e.toString))
    val values = asList(vectors.getOrElse("values", null)).map { v =>
      val m = asMap(v)
      val kind = m.getOrElse("type", "element").toString
      val elements =
        (asList(m.getOrElse("elements", null)) ++ m.get("element").toSeq)
          .map(e => engineColumn(e.toString))
      VectorValue(kind, elements,
        value = m.get("value").map(asDouble).getOrElse(0.0),
        operator = m.getOrElse("operator", "").toString,
        name = m.getOrElse("name", m.getOrElse("function", "")).toString)
    }

    val outputs = asList(root.getOrElse("output", null)).map { o =>
      val m = asMap(o)
      OutputField(m.getOrElse("name", "").toString,
        engineColumn(m.getOrElse("element", "").toString),
        m.getOrElse("type", "simple").toString)
    }

    val distance = asMap(root.getOrElse("distance", null))
    val distModule = distance.getOrElse("distance_module", "").toString
    val distribution = asMap(distance.getOrElse("distribution", null))
    val default = asMap(distribution.getOrElse("default", null))
    // per-pattern interval/weight/limit resolution with default fallback
    // (pattern_finder.py:213-223, 362)
    def distFor(patName: String): PatternFinder.DistConfig = {
      val own = asMap(distribution.getOrElse(patName, null))
      def pick(k: String): Seq[Any] =
        asList(own.getOrElse(k, null)) match {
          case Nil => asList(default.getOrElse(k, null))
          case l => l
        }
      val intervals = pick("intervals").map(asDouble)
      // intervalBin counts intervals <= distance, which matches the
      // reference's first-interval-greater scan only when the interval
      // list ascends — reject a misordered config instead of silently
      // binning differently (pattern_finder.py distribution intervals)
      require(intervals == intervals.sorted,
        s"distribution intervals for pattern '$patName' must be ascending: $intervals")
      val weights = pick("weights") match {
        case Nil => Seq.fill(intervals.size)(1L)
        case w => w.map(asLong)
      }
      val limit = own.get("limit").orElse(default.get("limit"))
        .map(asLong).getOrElse(1L)
      PatternFinder.DistConfig(intervals, weights, limit)
    }
    val patterns = asList(distance.getOrElse("patterns", null)).map { p =>
      val m = asMap(p)
      val pname = m.getOrElse("name", "pattern").toString
      // biflow patterns: request then response halves, matching the
      // concatenated biflow vector (biflow_quadratic_form.py:38-41);
      // simple patterns: a flat `vector` list
      val vec =
        if (m.contains("request") || m.contains("response"))
          (asList(m.getOrElse("request", null)) ++
            asList(m.getOrElse("response", null))).map(asDouble)
        else asList(m.getOrElse("vector", null)).map(asDouble)
      (PatternFinder.Pattern(pname, vec), distFor(pname))
    }

    Config(name, windowSec, sliceSec, filters, keyType, biflowKey,
      simpleKey, values, outputs, distModule, patterns)
  }

  def load(path: String): Config =
    parse(scala.util.Using.resource(scala.io.Source.fromFile(path))(_.mkString))

  // ----- config → Columns ------------------------------------------------

  /** One vectors.values entry → per-flow Column (pattern_finder.py:104-131).
    * `operation` folds the python `operator` function left over elements;
    * `module`/`default_function` names map to engine functions. */
  def vectorExpr(v: VectorValue): Column = v.kind match {
    case "element" => col(v.element.head).cast("double")
    case "direct"  => lit(v.value)
    case "operation" =>
      val cols = v.element.map(e => col(e).cast("double"))
      v.operator match {
        case "add" => cols.reduce(_ + _)
        case "sub" => cols.reduce(_ - _)
        case "mul" => cols.reduce(_ * _)
        case "truediv" | "div" => cols.reduce(_ / _)
        case other => throw new IllegalArgumentException(s"operator $other")
      }
    case "module" | "default_function" => v.name match {
      case "element_entropy" =>
        graft.functions.TextFunctions.charEntropy(col(v.element.head))
      case "len" => length(col(v.element.head)).cast("double")
      case other => throw new IllegalArgumentException(s"vector module $other")
    }
    case other => throw new IllegalArgumentException(s"vector value type $other")
  }

  /** Per-flow vector Columns for [[PatternFinder.biflows]]'s `vector`. */
  def vectorCols(cfg: Config): Seq[Column] = cfg.values.map(vectorExpr)

  // ----- config → pipelines ---------------------------------------------

  /** The full batch pipeline from a parsed config: filter → key
    * construction (biflow pairing or per-flow simple key) → per-pattern
    * distribution report (the process_input chain,
    * pattern_finder.py:394-422). Biflow reports key on (src_ip, dst_ip);
    * simple reports key on the '-'.joined `key` column.
    *
    * Only specs call it: it is the batch face of the S7 YAML pipeline
    * ([[streamingReports]] is the streaming one), kept so AnalyticsSpec
    * can pin the YAML-driven result against the hand-built pipeline. */
  def batchReport(flows: DataFrame, cfg: Config): DataFrame = {
    val filtered = flows.filter(PatternFinder.filterExpr(cfg.filters))
    cfg.keyType match {
      case "biflow" =>
        val pairs = PatternFinder.biflows(filtered,
          cfg.biflowKey.map(_.toleranceMs).getOrElse(500L),
          vectorCols(cfg))
        PatternFinder.patternReportVec(pairs, cfg.patterns,
          PatternFinder.biflowVector)
      case "simple" =>
        PatternFinder.patternReportKeyed(filtered,
          Seq("key" -> concat_ws("-", cfg.simpleKey.map(col): _*)),
          cfg.patterns,
          array(vectorCols(cfg).map(_.cast("double")): _*))
      case other =>
        throw new IllegalArgumentException(s"vector key type $other")
    }
  }

  /** The streaming pipeline: filter → key construction (stream-stream
    * biflow join, or per-flow simple key) → one-hot bin observations →
    * keyed report state with distribution carry. Requires a uniform
    * distribution config across patterns (the flattened state array is
    * fixed-width); configs with per-pattern interval overrides must run
    * the batch form. Rows behind `watermark` are dropped. */
  def streamingReports(flows: DataFrame, cfg: Config, watermark: String)
      : org.apache.spark.sql.Dataset[graft.streaming.ReportDedup.PatternReport] = {
    val dists = cfg.patterns.map(_._2).distinct
    require(dists.size == 1,
      "streaming pattern reports need a uniform distribution config")
    val filtered = flows.filter(PatternFinder.filterExpr(cfg.filters))
    cfg.keyType match {
      case "biflow" =>
        graft.streaming.StreamingAnalytics.patternFinderReports(
          filtered, cfg.patterns.map(_._1), dists.head,
          reportIntervalMs = cfg.reportIntervalMs,
          tolerance = s"${cfg.biflowKey.map(_.toleranceMs).getOrElse(500L)} milliseconds",
          watermark = watermark, vector = vectorCols(cfg))
      case "simple" =>
        import flows.sparkSession.implicits._
        val obs = PatternFinder.patternObservationsKeyed(filtered,
          concat_ws("-", cfg.simpleKey.map(col): _*), col("event_time"),
          cfg.patterns.map(_._1), dists.head,
          array(vectorCols(cfg).map(_.cast("double")): _*))
          .as[graft.streaming.ReportDedup.PatternObservation]
        graft.streaming.ReportDedup.patterns(obs, cfg.reportIntervalMs,
          dists.head.intervals.size, dists.head.mid, dists.head.limit, watermark)
      case other =>
        throw new IllegalArgumentException(s"vector key type $other")
    }
  }
}
