package perfbench

import java.nio.file.Path

/** Benchmark entry point (launched by perfbench/run.py, which builds it,
  * checks the emitted names and prints the contract line). Prints one
  * `PERFBENCH_RESULT <json>` line. */
object Main {
  val workloads = Seq("stream_host_stats", "dashboard_rw", "batch_curate")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    if (a.selftest) { selfTest(); return }
    if (a.recordCurate) { Curate.record(Path.of(a.work)); return }
    require(workloads.contains(a.workload), s"unknown workload '${a.workload}'")
    val rec = new Record
    val tr = new Tracer
    rec.stamps("workload") = a.workload
    rec.stamps("seed") = a.seed
    rec.stamps("seconds") = a.seconds
    rec.stamps("trace") = a.trace
    rec.stamps("nproc") = Runtime.getRuntime.availableProcessors()
    Harness.phase("weather kernel")
    rec.stamps("weather_ms") = Harness.weatherMs()
    rec.stamps("java") = System.getProperty("java.version")
    try a.workload match {
      case "stream_host_stats" => Streams.run(a, rec, tr)
      case "dashboard_rw" => Dashboard.run(a, rec, tr)
      case "batch_curate" => Curate.run(a, rec, tr)
    } catch {
      case e: Throwable =>
        rec.gate("workload completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    rec.e("peak_rss_mb", Harness.peakRssMb, "MB")
    if (a.trace) {
      val self = tr.selfMsByLayer
      Seq("bench", "gen", "streaming", "spark", "results", "queries", "pipeline", "scale")
        .foreach(l => rec.l(s"self_ms.$l", self.getOrElse(l, 0.0), "ms"))
      val dump = Path.of(a.work).getParent.resolve("traces").resolve(s"${a.workload}-${a.seed}.jsonl")
      tr.dump(dump)
      rec.stamps("span_dump") = dump.toString
      rec.stamps("spans") = tr.all.size
    }
    val attempted = rec.attempted.get
    rec.n("error_rate", if (attempted == 0) 1.0 else rec.failed.get.toDouble / attempted, "ratio",
      attempted.toInt)
    Harness.phase("done")
    println("PERFBENCH_RESULT " + rec.json)
    System.out.flush()
    // Spark's non-daemon threads would otherwise keep the JVM alive
    Runtime.getRuntime.halt(0)
  }

  /** Benchmark self-tests: generator determinism and the percentile rule. */
  def selfTest(): Unit = {
    def sha(b: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256").digest(b).toSeq
    val g = (s: Long, i: Int) => FlowGen.hostFile(s, i, i * 5000L, 5000)
    for (i <- Seq(0, FlowGen.FirstLateFile + 3)) {
      assert(sha(g(7L, i)) == sha(g(7L, i)), s"file $i: same seed, different bytes")
      assert(sha(g(7L, i)) != sha(g(8L, i)), s"file $i: different seeds, same bytes")
    }
    def starts(b: Array[Byte]) = "\"ipfix.flowStartMilliseconds\":(\\d+)".r
      .findAllMatchIn(new String(b, "UTF-8")).map(_.group(1).toLong).toSeq
    assert(starts(g(7L, FlowGen.FirstLateFile)).exists(FlowGen.isLate), "no late rows generated")
    assert(!(0 until FlowGen.FirstLateFile).exists(i => starts(g(7L, i)).exists(FlowGen.isLate)),
      "late rows in a file the first micro-batch may read")
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.pct(xs(20), 50).contains(10.0) && Stats.pct(xs(19), 50).isEmpty)
    assert(Stats.pct(xs(200), 95).contains(190.0) && Stats.pct(xs(199), 95).isEmpty)
    assert(Stats.pct(Nil, 50).isEmpty && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    println("PERFBENCH_SELFTEST ok")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
