package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Run `df` to its full output through Spark's `noop` sink: every
    * column is computed and dropped. A `count()` would let the optimizer
    * prune whatever no output column needs (an as-of join's window, a
    * left join onto an aggregate) and time a different plan. Shared with
    * [[graft.tools.ConcurrentBench]] so both benches time the same work. */
  private[graft] def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median over timing samples (even count → mean of the middle two).
    * Shared with [[graft.tools.ConcurrentBench]]. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  // DCE sink for the calibration kernel (a JIT that proves the result
  // unused would compile the spin away and the row would time nothing)
  @volatile private var calibSink = 0L

  /** Fixed single-core weather kernel: ~120 M integer multiply-adds +
    * 256 MB of memcpy, single-threaded, no allocation inside the timed
    * window. The work is CONSTANT across rounds, so its wall is a pure
    * function of the box: CPU throttle, thermal state, noisy neighbors.
    * Carried in every bench record (`calib_sec` before the timed
    * passes, `calib_end_sec` after) so a round-over-round ratio shift
    * is attributable INSIDE the artifact — BENCH_r16 regressed
    * 0.311×→0.40× on sandbox CPU throttle and the attribution lived in
    * prose; with this row the driver can weather-normalize mechanically
    * (healthy-box reference: ~0.25–0.35 s). */
  private[graft] def calibrate(): Double = {
    val a = new Array[Long](8 << 20) // 64 MiB
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    val b = new Array[Long](a.length)
    def pass(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var r = 0
      while (r < 4) {
        System.arraycopy(a, 0, b, 0, a.length)
        var x = 0x243F6A8885A308D3L
        var j = 0
        while (j < 30000000) {
          x = x * 6364136223846793005L + 1442695040888963407L; j += 1
        }
        acc ^= x + b(((x & 0x7FFFFF) % a.length).toInt)
        r += 1
      }
      calibSink ^= acc
      (System.nanoTime() - t0) / 1e9
    }
    pass() // JIT warm, untimed
    median((1 to 3).map(_ => pass()))
  }

  /** Cumulative JVM GC wall (ms) across all collectors — local-mode
    * executors share the driver JVM, so a delta over a timed window is
    * exactly that query's GC debt. */
  private def gcTotalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(m => math.max(0L, m.getCollectionTime)).sum
  }

  /** JSON string-escape for text interpolated into the contract line
    * (exception messages, paths): an unescaped quote, backslash, or
    * newline in an error string yields an unparseable line — the exact
    * parsed=null failure the compact line exists to eliminate, and a
    * newline additionally breaks the one-line stdout contract, so
    * control characters become spaces rather than \\n escapes. */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => " "
      case c => c.toString
    }

  /** Render the driver-contract stdout line and the full-detail JSON.
    *
    * The round driver keeps only the LAST ~2000 characters of bench
    * stdout (every BENCH_r12–r14 artifact has `"parsed": null` with a
    * 2000-char `tail` that starts mid-line): once the single JSON line
    * outgrew that window — four 38-entry maps at full double precision —
    * the driver could no longer machine-read the record and each round's
    * judge had to reconstruct totals from the visible fragment. So the
    * stdout line carries the contract fields (`metric/value/unit/
    * queries/sf`), the error list, the measurement-protocol stamps, and
    * the duck/ratio SUMMARY, all at millisecond precision — sized to fit
    * the window with margin even after sbt appends its `[success]`
    * epilogue — while the per-query min/duck/ratio maps move to a detail
    * JSON (written to `SPARK_GRAFT_DETAIL`, default `BENCH_DETAIL.json`
    * in the working directory, and echoed to stderr; the contract line's
    * `detail` field names whichever path was actually written), where
    * BenchRenderSpec pins both shapes.
    *
    * `results` rows are (name, medianSec, minSec, error); a query that
    * failed in any pass reads -1 in every map and is listed under
    * `errors`.
    */
  private[graft] def renderLines(
      results: Seq[(String, Double, Double, Option[String])],
      duck: Option[Map[String, Double]],
      warm: Boolean, timedPasses: Int, sfDir: String,
      detailPath: String = "BENCH_DETAIL.json",
      gc: Map[String, Double] = Map.empty,
      calib: Option[(Double, Double)] = None,
      duckMin: Map[String, Double] = Map.empty,
      duckPasses: Int = 0): (String, String) = {
    def r3(x: Double): String = {
      val v = math.round(x * 1000.0) / 1000.0
      if (v == v.toLong) v.toLong + ".0" else v.toString
    }
    def qmap(f: ((String, Double, Double, Option[String])) => Double) =
      results.map { t =>
        "\"" + t._1 + "\":" + (if (t._4.isEmpty) r3(f(t)) else "-1.0")
      }.mkString("{", ",", "}")
    val qs = qmap(_._2)
    val qsMin = qmap(_._3)
    val errors = results.collect { case (k, _, _, Some(e)) =>
      s""""${jsonEscape(s"$k:$e")}"""" }.mkString("[", ",", "]")
    val total = results.collect { case (_, med, _, None) => med }.sum
    // duck/ratio summary: sums over the queries the comparator actually
    // timed, so ratio_total is Σspark/Σduck on a like-for-like set
    val duckSummary = duck.map { d =>
      val onDuck = results.collect {
        case (k, med, _, None) if d.get(k).exists(_ > 0) => (med, d(k))
      }
      val sSum = onDuck.map(_._1).sum
      val dSum = onDuck.map(_._2).sum
      s""","duck_total":${r3(dSum)},"ratio_total":${
        if (dSum > 0) r3(sSum / dSum) else "null"}"""
    }.getOrElse("")
    // ratio_norm: Σ spark_min / Σ duck_min on the like-for-like set —
    // BOTH sides are min-of-passes, so the line moves on plan changes,
    // not on which pass caught a noisy-neighbor burst (the official
    // ratio_total drifted 0.311→0.400→0.432 across r15-r17 on box
    // weather alone; the calib/gc stamps attribute it, this consumes it)
    val normSummary =
      if (duckMin.isEmpty) ""
      else {
        val onDuck = results.collect {
          case (k, _, mn, None) if duckMin.get(k).exists(_ > 0) =>
            (mn, duckMin(k))
        }
        val sMin = onDuck.map(_._1).sum
        val dMin = onDuck.map(_._2).sum
        s""","duck_min_total":${r3(dMin)},"ratio_norm":${
          if (dMin > 0) r3(sMin / dMin) else "null"},"duck_passes":$duckPasses"""
      }
    // weather instruments: the fixed single-core kernel's wall before/
    // after the timed passes, and total GC seconds inside the timed
    // windows — in the CONTRACT line (scalars only; ~70 chars) so the
    // driver can weather-normalize a ratio shift without the detail file
    val weather = calib.map { case (pre, post) =>
      s""","calib_sec":${r3(pre)},"calib_end_sec":${r3(post)}"""
    }.getOrElse("") + (
      if (gc.isEmpty) ""
      else s""","gc_total_sec":${r3(results.collect {
        case (k, _, _, None) => gc.getOrElse(k, 0.0) }.sum)}""")
    val protocol =
      s""""errors":$errors,"warmup":$warm,"warmup_passes":${
        if (warm) 2 else 0},"timed_passes":$timedPasses$weather"""
    // empty detailPath = "the detail file was NOT written" (write failed
    // or skipped): the pointer must then read null, not a stale path
    val detailField =
      if (detailPath.isEmpty) "null" else s""""${jsonEscape(detailPath)}""""
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,$protocol$duckSummary$normSummary,"detail":$detailField,"sf":"${jsonEscape(sfDir)}"}"""
    val duckDetail = duck.map { d =>
      val ds = results.map { case (k, _, _, _) =>
        "\"" + k + "\":" + d.get(k).map(r3).getOrElse("null")
      }.mkString("{", ",", "}")
      val rs = results.map { case (k, med, _, err) =>
        val r = for (dv <- d.get(k) if err.isEmpty && dv > 0)
          yield r3(med / dv)
        "\"" + k + "\":" + r.getOrElse("null")
      }.mkString("{", ",", "}")
      s""","duck":$ds,"ratio":$rs"""
    }.getOrElse("") + (
      if (duckMin.isEmpty) ""
      else {
        val dm = results.map { case (k, _, _, _) =>
          "\"" + k + "\":" + duckMin.get(k).map(r3).getOrElse("null")
        }.mkString("{", ",", "}")
        val rn = results.map { case (k, _, mn, err) =>
          val r = for (dv <- duckMin.get(k) if err.isEmpty && dv > 0)
            yield r3(mn / dv)
          "\"" + k + "\":" + r.getOrElse("null")
        }.mkString("{", ",", "}")
        s""","duck_min":$dm,"ratio_norm_q":$rn"""
      })
    // per-query GC seconds (median over timed passes) live in the
    // detail shape: a query whose wall regressed with flat gc_sec is a
    // plan problem; regressed wall + regressed gc is heap weather
    val gcDetail =
      if (gc.isEmpty) ""
      else results.map { case (k, _, _, err) =>
        "\"" + k + "\":" + (if (err.isEmpty) r3(gc.getOrElse(k, 0.0))
                            else "-1.0")
      }.mkString(""","queries_gc":{""", ",", "}")
    val detail =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"queries_min":$qsMin$gcDetail,$protocol$duckDetail$duckSummary$normSummary,"sf":"${jsonEscape(sfDir)}"}"""
    (compact, detail)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // driver contract: bench runs at local[32] unless overridden
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // static conf (builder-time only): the 100-entry default generated-
      // class cache thrashes across a ~40-query suite, re-compiling and
      // re-JITting every pass (see build.sbt javaOptions note)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Graft.tune(spark)
    // JVM/codegen/parquet-footer warmup so the first timed query isn't
    // charged ~4s of one-time session cost
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
    val all = SparkEntry.queries
    // SPARK_GRAFT_QUERIES=a,b,c overrides the headline set (ad-hoc timing)
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(
        if (SparkEntry.benchQueries.nonEmpty) SparkEntry.benchQueries
        else all.keys.toSeq)
    def run(name: String): Option[String] =
      try { consume(all(name)(spark, sfDir)); None }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          Some(e.getClass.getSimpleName)
      }
    // Steady-state measurement: run every query untimed first
    // (JIT/codegen warm — the 100 TB-relevant number, since per-query
    // JIT amortizes over hours there; cold-vs-warm swings on the heavy
    // tier are ±3×, swamping real deltas). TWO warmup passes, the JMH
    // convention: after one pass C2 is still mid-compile on the
    // sub-second queries (measured: the same query's wall keeps falling
    // through rep 3-4 in a fresh JVM — 1.0 s → 0.66 s — while reps 4/5
    // agree), so a single pass times a half-warmed JIT, not the query.
    // SPARK_GRAFT_COLD=1 restores the old single-pass cold timing.
    // The JSON line carries which mode ran.
    val warm = !sys.env.get("SPARK_GRAFT_COLD").contains("1")
    if (warm) (1 to 2).foreach { _ =>
      names.distinct.foreach { n =>
        run(n); spark.catalog.clearCache() // caches stay cold, JIT warms
      }
    }
    // Isolation between TIMED queries, not just warmup ones: a
    // predecessor's persisted frames, localCheckpoint blocks, and
    // broadcast/shuffle debt otherwise bleed into the next timing
    // (measured: q_curate 2.9 s isolated vs 15.9 s right after
    // q_dedup_cluster + q_simhash_candidates). clearCache drops
    // persisted frames; the GC lets ContextCleaner reclaim checkpoint
    // blocks and broadcasts, and the pause gives its async thread a
    // beat to run. The pause sits outside the timed window.
    def timedPass(): Seq[(String, Double, Double, Option[String])] = names.map { name =>
      spark.catalog.clearCache() // each query pays for only its own caches
      System.gc()
      Thread.sleep(300)
      // re-warm the scheduler/codegen/GC-allocation paths the full GC
      // just disturbed with a no-op job OUTSIDE the timed window — it
      // computes nothing of the measured query (no shared plans, no
      // caches), it only keeps the isolation protocol itself from
      // charging the first post-GC job a JVM re-warm penalty
      // (measured: ±0.6 s swings on back-to-back identical queries)
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val g0 = gcTotalMs()
      val t0 = System.nanoTime()
      val err = run(name)
      val sec = (System.nanoTime() - t0) / 1e9
      (name, sec, (gcTotalMs() - g0) / 1e3, err)
    }
    // TWO timed passes (SPARK_GRAFT_TIMED_PASSES overrides): the record
    // then carries per-query median (the headline) AND min, so a future
    // reader can separate machine noise from real regressions without
    // re-running — the 1.5-3x oscillation band on the sub-second floor
    // queries was previously reconstructable only from prose.
    val timedPasses = sys.env.get("SPARK_GRAFT_TIMED_PASSES")
      .map(_.toInt).filter(_ > 0).getOrElse(2)
    // weather instrument 1: fixed single-core kernel before and after
    // the timed block — its drift IS the box's drift (see calibrate)
    val calibPre = calibrate()
    val allPasses = (1 to timedPasses).map(_ => timedPass())
    val calibPost = calibrate()
    // a query that crashed in ANY pass must not read as a fast success:
    // its timing is -1 and it is listed under "errors"
    val results = names.map { name =>
      val samples = allPasses.map(_.find(_._1 == name).get)
      val err = samples.flatMap(_._4).headOption
      (name, median(samples.map(_._2)), samples.map(_._2).min, err)
    }
    // weather instrument 2: per-query GC seconds inside the timed
    // window (median over passes), same aggregation as the wall
    val gcByQuery = names.map { name =>
      name -> median(allPasses.map(_.find(_._1 == name).get._3))
    }.toMap
    // Run the SAME oracle SQL through the single-node DuckDB comparator
    // (scripts/duck_bench.py) and emit per-query comparator seconds +
    // spark/duck ratios, so the 2×-of-comparator bar is machine-checked
    // in every BENCH file instead of hand-maintained tables. ON by
    // default (SPARK_GRAFT_DUCK=0 opts out for pure-Spark timing runs).
    // Comparator failure (no python/duckdb, dialect gap) degrades to
    // "duck":null — it must never fail the bench itself.
    // (duckFirst, duckMin, passes): duck_bench runs each oracle N passes
    // (default 3) and reports the first/coldest pass ("sec" — feeds the
    // round-over-round ratio_total, same semantics as the r15-r17
    // single-pass records) + the min ("min" — feeds ratio_norm)
    val duckRun: Option[(Map[String, Double], Map[String, Double], Int)] =
      if (sys.env.get("SPARK_GRAFT_DUCK").contains("0")) None
      else try {
        val oraclePath = java.nio.file.Files.createTempFile("graft_oracle", ".json")
        java.nio.file.Files.writeString(oraclePath, Verify.oracleJson(spark, sfDir))
        val cmd = Array("python3", "scripts/duck_bench.py", sfDir,
          oraclePath.toString, names.distinct.mkString(","))
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes())
        p.waitFor()
        java.nio.file.Files.deleteIfExists(oraclePath)
        // duck_bench prints {"sf":..,"passes":N,"queries":
        //   {"name":{"sec":FIRST,"min":MIN,"rows":N}|{"err":..}|null}}
        val secRe =
          """"([A-Za-z0-9_]+)":\s*\{"sec":\s*([0-9.eE+-]+),\s*"min":\s*([0-9.eE+-]+)""".r
        val ms = secRe.findAllMatchIn(out).toSeq
        val passes = """"passes":\s*(\d+)""".r.findFirstMatchIn(out)
          .map(_.group(1).toInt).getOrElse(1)
        Some((ms.map(m => m.group(1) -> m.group(2).toDouble).toMap,
          ms.map(m => m.group(1) -> m.group(3).toDouble).toMap, passes))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] duck comparator failed: $e"); None
      }
    val duck = duckRun.map(_._1)
    val duckMin = duckRun.map(_._2).getOrElse(Map.empty[String, Double])
    val duckPasses = duckRun.map(_._3).getOrElse(0)
    // warmup_passes / timed_passes make the measurement protocol
    // explicit in the record itself: "queries" is the per-query MEDIAN
    // over timed_passes isolated runs; the detail JSON adds the
    // per-query best and the per-query duck/ratio maps
    // a SPARK_GRAFT_QUERIES subset run must not overwrite the committed
    // full-suite BENCH_DETAIL.json that round-over-round consumers read
    // (it happened in r17: the repo's detail artifact was replaced by a
    // one-query re-run), and NEITHER may a full-suite run at the wrong
    // SF (it happened in the interrupted r19 build round: an sf0.001
    // run clobbered the official sf0.1 record because the guard only
    // covered subset runs) — unless the caller names a path explicitly.
    // The official record is the sf0.1 testdata dir the driver benches.
    val officialSf = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL",
      if (sys.env.contains("SPARK_GRAFT_QUERIES") || !officialSf)
        "BENCH_DETAIL_partial.json"
      else "BENCH_DETAIL.json")
    val (_, detail) =
      renderLines(results, duck, warm, timedPasses, sfDir, detailPath,
        gcByQuery, Some((calibPre, calibPost)), duckMin, duckPasses)
    // the contract line's detail field names whichever path was ACTUALLY
    // written: a failed write re-renders with detail:null so the driver
    // is never pointed at a stale or absent file
    val written =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Path.of(detailPath), detail + "\n")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] detail write failed ($detailPath): $e")
        false
      }
    val (compact, _) = renderLines(results, duck, warm, timedPasses, sfDir,
      if (written) detailPath else "", gcByQuery, Some((calibPre, calibPost)),
      duckMin, duckPasses)
    if (compact.length > 1800)
      System.err.println(s"[bench] WARNING: contract line ${compact.length}" +
        " chars — approaching the driver's 2000-char tail window")
    System.err.println(detail)
    println(compact)
    spark.stop()
    if (results.exists(_._4.nonEmpty)) sys.exit(1)
  }
}
