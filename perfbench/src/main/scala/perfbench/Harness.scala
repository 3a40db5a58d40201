package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Command-line arguments shared by every workload. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, selftest: Boolean,
                      recordCurate: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    @annotation.tailrec
    def loop(rest: List[String], c: Args): Args = rest match {
      case "--workload" :: v :: t => loop(t, c.copy(workload = v))
      case "--seed" :: v :: t     => loop(t, c.copy(seed = v.toLong))
      case "--seconds" :: v :: t  => loop(t, c.copy(seconds = v.toInt))
      case "--trace" :: v :: t    => loop(t, c.copy(trace = v == "1"))
      case "--work" :: v :: t     => loop(t, c.copy(work = v))
      case "--selftest" :: t      => loop(t, c.copy(selftest = true))
      case "--record-curate" :: t => loop(t, c.copy(recordCurate = true))
      case Nil => c
      case other :: _ => throw new IllegalArgumentException(s"unknown arg $other")
    }
    loop(a.toList, Args("", 1L, 10, trace = false, "work", selftest = false, recordCurate = false))
  }
}

/** Order statistics. Timings are reported as a median plus the highest
  * percentile that still has at least ten samples beyond it. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank `p`-th percentile, or None when fewer than ten samples
    * lie above it (the percentile would rest on a handful of points). */
  def pct(xs: Iterable[Double], p: Double): Option[Double] = {
    val s = xs.toIndexedSeq.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    if (s.size - rank < 10) None else Some(s(rank - 1))
  }
}

/** One run's record: contract metrics, per-layer metrics, the per-workload
  * end-to-end figures with their sample counts, stamps and gate results. */
final class Record {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val stamps = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()

  /** A correctness gate: counts as one attempted operation, and as a
    * failed one when it does not hold. */
  def gate(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      failures.synchronized(failures += s"$name: $detail")
    }
  }

  def e(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def n(name: String, v: Double, unit: String, samples: Int): Unit =
    named(name) = (v, unit, samples)

  /** The traced phase's end-to-end figures against the untraced ones
    * already recorded, as `trace.overhead.<metric>`: the percent by which
    * tracing made the metric worse (negative when it read better). */
  def overhead(throughput: Double, latencyMs: Double): Unit = {
    def pct(name: String, worse: Double): Unit =
      l(s"trace.overhead.$name", 100.0 * worse / e2e(name)._1, "%")
    pct("throughput_per_s", e2e("throughput_per_s")._1 - throughput)
    pct("latency_p50_ms", latencyMs - e2e("latency_p50_ms")._1)
  }

  def json: String = Json.obj(Seq(
    "correct" -> (failed.get == 0),
    "attempted" -> attempted.get,
    "failed" -> failed.get,
    "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "named" -> named.map { case (k, (v, u, c)) =>
      k -> Map("value" -> v, "unit" -> u, "samples" -> c) },
    "stamps" -> stamps,
    "failures" -> failures.toSeq))
}

object Json {
  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** In-memory span recorder. Spans are taken by the benchmark around its
  * calls into each layer; they are kept in memory and written out once,
  * when the run ends. Off (zero recording) until a workload switches it
  * on for its traced phase. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long)

final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[(Long, Long)] // (trace, span id)

  /** Run `f` inside a span named `name`; the caller's span (same thread)
    * is its parent, or a new trace starts when there is none. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = current.get
      val id = ids.incrementAndGet()
      val trace = if (outer == null) id else outer._1
      current.set((trace, id))
      val t0 = System.nanoTime()
      try f
      finally {
        record(Span(trace, id, if (outer == null) 0L else outer._2, name, t0,
          System.nanoTime()))
        current.set(outer)
      }
    }

  /** Record a span measured elsewhere (e.g. a micro-batch phase read
    * from a progress event), under `parent` (0 = a root of its own). */
  def add(trace: Long, parent: Long, name: String, startNs: Long,
          endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) record(Span(if (trace == 0) id else trace, id, parent, name,
      startNs, endNs))
    id
  }

  private def record(s: Span): Unit = spans.synchronized(spans += s)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer (the span name up to its first '.'): a span's
    * duration minus the part of it that its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      s.name.takeWhile(_ != '.') -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map(s => Json.obj(Seq("trace" -> s.trace, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark task/stage/job tallies, split by the `perfbench.kind` local
  * property the benchmark sets on the threads that submit the jobs
  * (jobs without one, e.g. a streaming query's, count as "stream"). */
final class TaskMeter extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class Tally {
    val jobs = new AtomicLong(); val stages = new AtomicLong()
    val tasks = new AtomicLong(); val runMs = new AtomicLong()
    val shuffleWrite = new AtomicLong(); val shuffleRead = new AtomicLong()
    val spill = new AtomicLong(); val gcMs = new AtomicLong()
    val bytesRead = new AtomicLong()
    val taskMs = mutable.ArrayBuffer[Double]()
  }

  private val tallies = new java.util.concurrent.ConcurrentHashMap[String, Tally]()
  private val stageKind = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def tally(kind: String): Tally = tallies.computeIfAbsent(kind, _ => new Tally)
  private def kindOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.kind"))).getOrElse("stream")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = kindOf(e.properties)
    tally(k).jobs.incrementAndGet()
    e.stageIds.foreach(stageKind.put(_, k))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    tally(stageKind.getOrDefault(e.stageInfo.stageId, "stream")).stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val t = tally(stageKind.getOrDefault(e.stageId, "stream"))
    val m = e.taskMetrics
    t.tasks.incrementAndGet()
    t.runMs.addAndGet(m.executorRunTime)
    t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    t.gcMs.addAndGet(m.jvmGCTime)
    t.bytesRead.addAndGet(m.inputMetrics.bytesRead)
    t.taskMs.synchronized(t.taskMs += m.executorRunTime.toDouble)
  }

  /** The `spark.*` per-layer metrics for jobs of `kinds`, per `units`
    * (micro-batches, reads or curate calls) over `wallMs` of wall time. */
  def report(rec: Record, kinds: Seq[String], units: Double, wallMs: Double,
             cores: Int): Unit = {
    val ts = kinds.map(tally)
    def sum(f: Tally => AtomicLong) = ts.map(f(_).get).sum.toDouble
    val per = math.max(units, 1.0)
    val taskMs = ts.flatMap(t => t.taskMs.synchronized(t.taskMs.toList))
    rec.l("spark.jobs", sum(_.jobs) / per, "count")
    rec.l("spark.stages", sum(_.stages) / per, "count")
    rec.l("spark.tasks", sum(_.tasks) / per, "count")
    rec.l("spark.busy_frac", if (wallMs <= 0) 0.0 else sum(_.runMs) / (wallMs * cores), "ratio")
    rec.l("spark.task_ms_p50", if (taskMs.isEmpty) 0.0 else Stats.median(taskMs), "ms")
    rec.l("spark.task_ms_max", if (taskMs.isEmpty) 0.0 else taskMs.max, "ms")
    rec.l("spark.shuffle_write_bytes", sum(_.shuffleWrite) / per, "B")
    rec.l("spark.shuffle_read_bytes", sum(_.shuffleRead) / per, "B")
    rec.l("spark.spill_bytes", sum(_.spill) / per, "B")
    rec.l("spark.gc_ms", sum(_.gcMs) / per, "ms")
  }
}

object Harness {
  /** Jobs submitted from this thread are attributed to `kind`. */
  def kind(spark: org.apache.spark.sql.SparkSession, k: String): Unit =
    spark.sparkContext.setLocalProperty("perfbench.kind", k)

  def nowMs: Double = System.nanoTime() / 1e6

  private val t0 = nowMs
  /** Progress note on stderr: the run's phases with their start times. */
  def phase(name: String): Unit = System.err.println(f"[perfbench] ${(nowMs - t0) / 1000}%7.2f s  $name")

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Weather kernel: a fixed CPU-bound loop (xorshift + FNV mixing),
    * timed; a slow reading flags a busy or throttled machine. */
  def weatherMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L; var h = 0xcbf29ce484222325L; var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        h = (h ^ (x & 0xff)) * 0x100000001b3L; i += 1
      }
      if (h == 42) println("") // keeps the loop live
      (System.nanoTime() - t0) / 1e6
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }

  /** Run the tasks on their own threads and wait for all of them. */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    val ts = tasks.map(t => new Thread(() => t()))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Files (not directories, not hidden/underscore entries) under `p`. */
  def dataFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) &&
          !p.relativize(f).iterator().asScala.exists { n =>
            n.toString.startsWith("_") || n.toString.startsWith(".") }).toList
      } finally s.close()
    }
}
