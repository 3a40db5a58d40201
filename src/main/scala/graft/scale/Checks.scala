package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative data-quality verification in ONE scan: every declared
  * constraint lowers to an aggregate `Column`, all of them ride a single
  * `df.agg(...)` pass (map-side-combinable hash aggregate — no shuffle
  * beyond the final 1-row exchange), and the pass/fail verdicts are
  * derived driver-side from that one metadata-sized row. The design is
  * the unit-of-work from Schelter et al., VLDB 2018 ("Automating
  * large-scale data quality verification" — the Deequ model): checks as
  * declarative predicates over computed metrics, metrics batched into a
  * minimal number of scans. At 100 TB the difference between this and
  * the naive spelling (one action per constraint) is N full corpus
  * scans vs one.
  *
  * The training-pipeline use: gate a corpus BEFORE a run — row volume in
  * expected bounds, ids unique, text present, length distribution sane,
  * language tags in the contract set — and fail fast with the violated
  * constraint named, instead of discovering a half-empty shard three
  * days into training.
  *
  * Scale notes:
  *  - [[uniqueness]] uses exact `count_distinct`; several exact
  *    distincts in one pass make Spark plan an Expand (rows × #distinct
  *    aggregates — still one scan, but wider). At corpus scale prefer
  *    [[uniquenessApprox]] (HLL partials, no Expand) and keep exact for
  *    audits.
  *  - Metric values are rounded to 6 dp so reports are deterministic
  *    and engine-portable (the q_quality_checks oracle replicates the
  *    whole report in ANSI SQL).
  */
object Checks {

  /** One constraint: `metric` must land in `[lo, hi]` (inclusive). */
  final case class Check(name: String, metric: Column, lo: Double, hi: Double)

  private val Inf = Double.PositiveInfinity

  /** Row count in `[lo, hi]`. */
  def size(lo: Long, hi: Long = Long.MaxValue): Check =
    Check("size", count(lit(1)).cast("double"), lo.toDouble, hi.toDouble)

  /** Fraction of non-null values in `c` ≥ `minFrac`. */
  def completeness(c: String, minFrac: Double): Check =
    Check(s"completeness($c)",
      coalesce(avg(col(c).isNotNull.cast("double")), lit(0.0)), minFrac, 1.0)

  /** distinct(cols) / count(*) ≥ `minRatio` (exact; Expand-planned when
    * several exact distincts share one pass). */
  def uniqueness(minRatio: Double, cols: String*): Check =
    Check(s"uniqueness(${cols.mkString(",")})",
      countDistinct(col(cols.head), cols.tail.map(col): _*).cast("double") /
        count(lit(1)), minRatio, 1.0)

  /** HLL twin of [[uniqueness]] — one ordinary aggregate path, no
    * Expand; ±`rsd` relative error, so leave slack in `minRatio`. */
  def uniquenessApprox(minRatio: Double, rsd: Double, cols: String*): Check =
    Check(s"uniqueness_approx(${cols.mkString(",")})",
      approx_count_distinct(struct(cols.map(col): _*), rsd).cast("double") /
        count(lit(1)), minRatio, Inf)

  /** mean(c) in `[lo, hi]`. */
  def meanOf(c: String, lo: Double, hi: Double): Check =
    Check(s"mean($c)", avg(col(c).cast("double")), lo, hi)

  /** min(c) in `[lo, hi]` (hi defaults open). */
  def minOf(c: String, lo: Double, hi: Double = Inf): Check =
    Check(s"min($c)", min(col(c).cast("double")), lo, hi)

  /** Fraction of ALL rows whose `c` matches `pattern` ≥ `minFrac`
    * (nulls count as non-conforming, so the fraction composes with
    * [[completeness]] instead of hiding behind it). Keep the pattern in
    * the Java∩RE2 common subset if the report must be replicable on
    * other engines. */
  def patternFraction(c: String, pattern: String, minFrac: Double): Check =
    Check(s"pattern($c)",
      avg(coalesce(col(c).rlike(pattern), lit(false)).cast("double")),
      minFrac, 1.0)

  /** Fraction of ALL rows whose `c` is in `values` ≥ `minFrac` (nulls
    * non-conforming, as in [[patternFraction]]). */
  def inSetFraction(c: String, values: Seq[String], minFrac: Double): Check =
    Check(s"in_set($c)",
      avg(coalesce(col(c).isin(values.map(lit): _*), lit(false)).cast("double")),
      minFrac, 1.0)

  /** The single-scan metrics row: one aggregate column per check, in
    * declaration order, each aliased by the check name and rounded to
    * 6 dp. This is the only job `report` runs. */
  def metricsRow(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Checks: at least one check required")
    val cols = checks.map(c => round(c.metric.cast("double"), 6).as(c.name))
    df.agg(cols.head, cols.tail: _*)
  }

  /** Evaluate every check in ONE scan of `df`; returns the long-format
    * report `(check, value, lo, hi, passed)`, one row per check. The
    * only driver-side materialization is the 1-row metrics collect. */
  def report(spark: SparkSession, df: DataFrame, checks: Seq[Check]): DataFrame = {
    val row = metricsRow(df, checks).collect().head
    val out = checks.zipWithIndex.map { case (c, i) =>
      val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      Row(c.name, v, c.lo, c.hi, v >= c.lo && v <= c.hi)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        StructField("check", StringType, nullable = false),
        StructField("value", DoubleType, nullable = false),
        StructField("lo", DoubleType, nullable = false),
        StructField("hi", DoubleType, nullable = false),
        StructField("passed", BooleanType, nullable = false))))
  }

  /** True iff every row of a [[report]] passed — the gate a pipeline
    * calls before committing to a run. Collects #checks rows. */
  def allPassed(reportDf: DataFrame): Boolean =
    reportDf.agg(min(col("passed"))).collect().head.getBoolean(0)

  /** Zero-extra-pass variant: the same constraints ride a job that is
    * ALREADY running, via `Dataset.observe` (CollectMetrics — see
    * [[Observe]]). Batch: the metrics row arrives on the listener after
    * the action ([[Observe.collect]]); streaming: per micro-batch in
    * `StreamingQueryProgress.observedMetrics` under `name`. Feed either
    * row to [[evaluate]] for verdicts. Even the [[report]]'s one scan
    * disappears — the corpus write job itself carries the gate.
    *
    * Constraint: observed metrics must be accumulator-mergeable, so
    * Spark's analyzer REJECTS exact-distinct aggregates here — use
    * [[uniquenessApprox]] (HLL partials merge), not [[uniqueness]]. */
  def observed(df: DataFrame, name: String, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Checks: at least one check required")
    val cols = checks.map(c => round(c.metric.cast("double"), 6).as(c.name))
    df.observe(name, cols.head, cols.tail: _*)
  }

  /** Verdicts from an observed metrics row: `(check, value, passed)`
    * per constraint, same pass rule as [[report]]. */
  def evaluate(row: Row, checks: Seq[Check]): Seq[(String, Double, Boolean)] =
    checks.map { c =>
      val i = row.fieldIndex(c.name)
      val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      (c.name, v, v >= c.lo && v <= c.hi)
    }

  /** Append a [[report]] (or any `(check, value)`-shaped frame) to the
    * run-over-run metric history at `dir`, tagged with `runId` — the
    * metric layer the anomaly gate reads. Parquet append of #checks
    * rows; the history stays metadata-sized forever (runs × checks). */
  def historyAppend(reportDf: DataFrame, dir: String, runId: String): Unit =
    reportDf.select(lit(runId).as("run_id"), col("check"), col("value"))
      .coalesce(1).write.mode("append").parquet(dir)

  /** Run-over-run anomaly screen (the Deequ anomaly-detection model,
    * relative-rate-of-change strategy): compare `current` metrics
    * against the SAME check's value in the latest prior run (run ids
    * compare lexicographically — use sortable ids like ISO dates, as
    * the spec fixtures do) and flag
    * `|cur/prev - 1| > maxRelChange`. Fixed absolute bounds catch
    * corruption; this catches DRIFT — the corpus that silently shrank
    * 40% between crawls while every static constraint still passed.
    *
    * All frames are metadata-sized (runs × checks); the one window is
    * PARTITIONED by check. A check with no prior run is emitted with
    * null `prev`/`rel_change` and `anomalous=false` (first run passes).
    * `prev = 0` with `cur != 0` flags anomalous (division guarded). */
  def anomalies(current: DataFrame, history: DataFrame,
                maxRelChange: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latestPrev = history
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("check")).orderBy(col("run_id").desc)))
      .filter(col("rn") === 1)
      .select(col("check"), col("value").as("prev"))
    current.select(col("check"), col("value").as("cur"))
      .join(latestPrev, Seq("check"), "left")
      .withColumn("rel_change",
        when(col("prev").isNull, lit(null).cast("double"))
          .when(col("prev") === 0.0 && col("cur") === 0.0, lit(0.0))
          .when(col("prev") === 0.0, lit(Inf))
          .otherwise(round(abs(col("cur") / col("prev") - 1.0), 6)))
      .withColumn("anomalous",
        coalesce(col("rel_change") > maxRelChange, lit(false)))
  }
}
