package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Concurrent-session posture probe: a production engine serves many
  * sessions at once, but every bench/smoke artifact so far ran its
  * queries SERIALLY in one session — the codegen-cache sizing, the
  * shuffle-partition count, and the GC envelope were all validated
  * under a single-stream assumption. This tool runs the official
  * headline set from N concurrent threads against ONE SparkSession
  * (Spark's FAIR scheduler, one pool per thread — the documented
  * multi-session serving pattern: jobs are scheduled fairly ACROSS
  * pools, so no stream starves behind another's heavy tier) and
  * compares against the same total work done serially:
  *
  *   - serial phase: N passes of the headline set, one after another,
  *     per-query wall recorded per pass;
  *   - concurrent phase: N threads, each one pass of the SAME set,
  *     each thread's pass order rotated by i·len/N so the heavy tier
  *     does not self-collide four-wide (the mixed-workload shape a
  *     shared engine actually sees), per-query wall per thread.
  *
  * Same total work, so the honest headline is one division:
  * `speedup = serial_wall / concurrent_wall` (4 threads on a 32-core
  * box should approach but never reach 4× — the heavy tier already
  * parallelizes internally, so concurrency wins only where a single
  * query leaves cores idle: scheduling gaps, broadcast builds,
  * driver-side planning). Per-query, the record carries serial median
  * vs concurrent median and p95 (nearest-rank over the N samples) —
  * the p95/serial ratio is the contention signal: a query whose p95
  * blows out under sharing points at a shared-resource cliff (codegen
  * cache, GC, driver lock), exactly the class of defect a serial
  * bench can never see.
  *
  * Server posture, deliberately: NO per-query `clearCache`/`System.gc`
  * isolation in EITHER phase (a shared engine cannot globally clear
  * caches between one stream's queries — `clearCache` is
  * session-global and would destroy a concurrent thread's persisted
  * frames mid-query), so the serial baseline here is the steady-state
  * serving number, not Bench.scala's isolated-measurement number.
  *
  * Usage: `runMain graft.tools.ConcurrentBench [threads]` (default 4);
  * `SPARK_GRAFT_QUERIES=a,b` restricts the set, `SPARK_GRAFT_SF_DIR`
  * picks the data (default sf0.1). Prints one JSON line with the
  * aggregate walls + per-query table; exits 1 if any query failed in
  * any phase.
  */
object ConcurrentBench {

  /** Scheduler-pool isolation for the stream face (the r19 fix for the
    * r18 serving tail — q_minhash_candidates p95_ratio 19.1 sampled
    * behind the drain): the drain runs in the low-weight `stream` pool
    * ([[allocationFile]] — weight 1 vs the client pools' 8), so whenever
    * an interactive query is waiting, FAIR hands it ~8/9 of every freed
    * slot and the drain back-fills idle capacity. Two rejected
    * alternatives, both measured at sf0.1: an 8-way bounded-trigger
    * split (maxFilesPerTrigger over time chunks) pays ~8 s of
    * planning + state-store commit per extra micro-batch (drain 81 s vs
    * 19 s serial, every p95 WORSE), and 128 shuffle partitions for
    * shorter tasks multiply the per-batch state-store/commit overhead
    * (drain 123 s). Priority, not granularity, is the lever that works:
    * drain wall is unchanged serially and interactive p95 drops because
    * freed slots go to clients first. */
  private def inStreamPool[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "stream")
    // structured streaming captures the starting thread's local
    // properties and applies them to every micro-batch job (the
    // documented multi-query pool-assignment pattern)
    try body finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** Streaming serving faces: every heavy BATCH face is in the rotation,
    * but a shared engine also hosts micro-batch streams — this runs the
    * full streaming pattern_finder (file-source events → flow synth →
    * biflow stream-stream join → keyed report state) as a bounded
    * AvailableNow drain per invocation, with a fresh checkpoint so every
    * pass replays the same work. The drain runs in the low-weight
    * `stream` scheduler pool ([[inStreamPool]]) and reads a copy of
    * `events.parquet` as one micro-batch (an 8-way time-chunked drain
    * measured worse, see [[inStreamPool]]). Each client thread runs its
    * own StreamingQuery (distinct checkpoint + queryName), the documented
    * multi-stream-per-session posture. */
  private val streamFaces: Map[String, (SparkSession, String) => Unit] = Map(
    "s_pattern_finder_stream" -> ((spark: SparkSession, sfDir: String) =>
      inStreamPool(spark) {
      // Width cap (SPARK_GRAFT_STREAM_WIDTH, default 8): the r19 task
      // audit showed the ENTIRE serving tail is this drain's stateful
      // stage — 32 uniform 4.4–6.5 s state-commit tasks holding every
      // core, and FAIR reallocates only at task completion, so pool
      // weights alone cannot bound the wait. A cloned session pins the
      // drain's shuffle (= state store) partitions to 8: the drain
      // never holds more than 8 of 32 slots, 24 cores stay interactive
      // whatever the drain does — the local[32] emulation of giving a
      // background stream its own small executor pool (what a real
      // cluster does with workload-isolated executors). Cost is drain
      // wall (~8 tasks × longer state commits, acceptable for an
      // AvailableNow catch-up); the rejected alternatives (chunked
      // triggers, global 128 partitions, ZGC) are measured in the
      // inStreamPool note.
      val width = sys.env.get("SPARK_GRAFT_STREAM_WIDTH")
        .map(_.toInt).getOrElse(8)
      val session = spark.newSession()
      session.conf.set("spark.sql.shuffle.partitions", width)
      val path = s"$sfDir/events.parquet"
      val rawSchema = session.read.parquet(path).schema
      // the file stream source reads a directory: a one-file copy, with
      // the checkpoint beside it, both deleted after the drain
      val work = java.nio.file.Files.createTempDirectory("cbench_pf_stream")
      val in = java.nio.file.Files.createDirectory(work.resolve("in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("events.parquet"))
      val events = session.readStream.schema(rawSchema)
        .parquet(in.toString)
        .withColumn("ts", graft.core.Tables.normalizeTsNanos(
          rawSchema("ts").dataType))
      val flows = graft.SparkEntry.withBiflowEcho(
        graft.core.FlowSynth.fromEvents(events,
          graft.core.FlowSynth.biflowCols))
      val out = graft.streaming.StreamingAnalytics.patternFinderReports(
        graft.streaming.FlowSource.withEventTime(flows),
        graft.SparkEntry.patterns, graft.SparkEntry.pfDist,
        reportIntervalMs = 60000L)
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination() } finally {
        if (q.isActive) q.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
      }
    }: Unit))

  private def run(all: Map[String, (SparkSession, String) => DataFrame],
                  spark: SparkSession, sfDir: String,
                  name: String): Option[String] =
    try {
      // job description = query name: the task audit attributes long
      // tasks to the query that submitted them, not a callsite
      spark.sparkContext.setJobDescription(name)
      streamFaces.get(name) match {
        case Some(face) => face(spark, sfDir)
        case None => graft.Bench.consume(all(name)(spark, sfDir))
      }
      None
    }
    // NonFatal, deliberately: a VM-fatal error (executor-side OOM) in a
    // CONTENTION probe must crash the probe, not be recorded as a query
    // error and then have the remaining phases measure a degraded JVM
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[cbench] $name FAILED: $e")
      Some(e.getClass.getSimpleName) }

  /** Nearest-rank p95. With the default single rotation that is the max
    * of 4 samples — stated in the COVERAGE row rather than pretending at
    * precision; `SPARK_GRAFT_ROTATIONS=5` gives 20 samples per query
    * (p95 = 2nd-worst), a percentile that actually discounts the one
    * unlucky slot-lottery draw instead of BEING it. */
  private def p95(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0 else s(math.min(s.size - 1,
      math.ceil(0.95 * s.size).toInt - 1))
  }

  /** Concurrent-phase task-duration audit (`SPARK_GRAFT_TASK_AUDIT=1`):
    * the serving tail is slot-availability — an interactive query can
    * start only when a running task finishes, so the tail's size IS the
    * duration of the longest tasks holding the box. This lists, per
    * stage the concurrent phase ran, the max task duration, the count of
    * tasks over one second, and the submitting pool and query — naming
    * exactly which query shapes hold slots too long (the fix target),
    * instead of inferring them from victim p95s. */
  private def auditReport(stages: Seq[StageMeter.Stage], topK: Int): String =
    stages.sortBy(-_.maxTaskMs).take(topK).map { s =>
      val nm = s.query.take(80).replace("\"", "'")
      s"""{"stage":${s.id},"pool":"${s.pool}","max_task_ms":${s.maxTaskMs},"tasks_over_1s":${s.slowTasks},"n_tasks":${s.tasks},"query":"$nm"}"""
    }.mkString("[", ",", "]")

  /** FAIR pool weights: interactive client pools outweigh the `stream`
    * drain pool 8:1 — a freed slot goes to a waiting interactive query
    * ~8/9 of the time, and the drain back-fills whatever the clients
    * leave idle (weights arbitrate only under contention; an idle box
    * still gives the drain everything). Written to a temp XML because
    * pool weights can only come from an allocation file. */
  private def allocationFile(maxClients: Int): String = {
    // minShare 8: the FAIR scheduler satisfies pools below their
    // minShare BEFORE any weight arithmetic, so an interactive query
    // arriving while heavy batch stages hold the box is first in line
    // for the next 8 freed slots instead of converging to fair share
    // one slot at a time
    val pools = (0 until maxClients).map(i =>
      s"""  <pool name="client$i">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>8</weight><minShare>8</minShare>
         |  </pool>""".stripMargin).mkString("\n")
    val xml =
      s"""<?xml version="1.0"?>
         |<allocations>
         |  <pool name="stream">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>1</weight><minShare>0</minShare>
         |  </pool>
         |$pools
         |</allocations>
         |""".stripMargin
    val f = java.nio.file.Files.createTempFile("cbench_pools", ".xml")
    java.nio.file.Files.writeString(f, xml)
    f.toString
  }

  def main(args: Array[String]): Unit = {
    val nThreads = args.headOption.map(_.toInt).getOrElse(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Static confs reach the session the way spark-submit --conf does:
    // as spark.* system properties. FAIR across pools; each client
    // thread below claims its own pool, the standard shared-SparkSession
    // serving configuration. The allocation file weights clients over
    // the stream drain 8:1 (the r19 serving-tail fix — see inStreamPool).
    sys.props("spark.sql.codegen.cache.maxEntries") = "4096"
    sys.props("spark.scheduler.mode") = "FAIR"
    sys.props("spark.scheduler.allocation.file") =
      allocationFile(math.max(nThreads, 16))
    val spark = toolSession("graft-concurrentbench")

    val all = SparkEntry.queries
    // default rotation = the official headline set PLUS the heavy
    // tier's production faces (the smoke-measured df cap and the
    // bucketed-ingest hybrid): the serving-posture record must cover
    // what a shared engine actually runs, not only the trend-line set
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse((SparkEntry.benchQueries ++
        Seq("q_edit_distance_capped", "q_hybrid_dedup_bucketed",
          "s_pattern_finder_stream")).distinct)

    // rotations: passes PER THREAD in the concurrent phase (and the
    // serial phase runs nThreads × rotations passes — same-total-work
    // invariant preserved). Default 1 keeps the historical protocol;
    // 5 gives 20 samples/query so p95 is a percentile, not the max.
    val rotations = sys.env.get("SPARK_GRAFT_ROTATIONS")
      .map(_.toInt).getOrElse(1)

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failedQueries =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    // warm exactly like Bench: two untimed passes with a per-query
    // clearCache (caches stay cold, JIT warms) so C2 finishes on the
    // sub-second tier and both phases measure steady state. A warm-up
    // failure is a FAILURE of the record, not a footnote: it pins the
    // query's row to -1 and fails the exit code like a phase error
    // (an unwarmed query's phase timings would measure a half-compiled
    // JIT, not the query).
    (1 to 2).zipWithIndex.foreach { case (_, w) =>
      names.foreach { n =>
        run(all, spark, sfDir, n).foreach { e =>
          errs.add(s"warmup$w/$n:$e"); failedQueries.add(n)
        }
        spark.catalog.clearCache()
      }
    }

    // ---- serial phase: nThreads passes back-to-back, one thread ----
    val serial = collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val s0 = System.nanoTime()
    (1 to nThreads * rotations).foreach { _ =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        run(all, spark, sfDir, name).foreach { e =>
          errs.add(s"serial/$name:$e"); failedQueries.add(name)
        }
        serial(name) = (System.nanoTime() - t0) / 1e9 :: serial(name)
      }
    }
    val serialWall = (System.nanoTime() - s0) / 1e9
    spark.catalog.clearCache()

    // ---- concurrent phase: nThreads threads, one rotated pass each ----
    val conc = new java.util.concurrent.ConcurrentHashMap[String, List[Double]]()
    // start barrier: concurrent_wall must time nThreads TRULY
    // overlapping streams, not a stagger where the first-spawned thread
    // gets a head start while its siblings are still being constructed
    val gate = new java.util.concurrent.CountDownLatch(1)
    // one meter measurement over the phase, every job group included:
    // the stream face's micro-batches run in their query's own group
    val phase = StageMeter(spark).measure("concurrent", allGroups = true) {
      val threads = (0 until nThreads).map { i =>
        val t = new Thread(() => {
          // each client stream gets its own FAIR pool (local property is
          // inherited by all jobs this thread submits)
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$i")
          gate.await()
          val rotated = {
            val off = i * names.size / nThreads
            names.drop(off) ++ names.take(off)
          }
          Seq.fill(rotations)(rotated).flatten.foreach { name =>
            val t0 = System.nanoTime()
            run(all, spark, sfDir, name).foreach { e =>
              errs.add(s"conc$i/$name:$e"); failedQueries.add(name)
            }
            val sec = (System.nanoTime() - t0) / 1e9
            conc.merge(name, List(sec), (a, b) => b ::: a)
          }
        }, s"cbench-client-$i")
        t.start(); t
      }
      val c0 = System.nanoTime()
      gate.countDown()
      threads.foreach(_.join())
      (System.nanoTime() - c0) / 1e9
    }
    val concWall = phase.value
    if (sys.env.get("SPARK_GRAFT_TASK_AUDIT").exists(_.nonEmpty))
      println(s"""{"mode":"task_audit","top_stages":${auditReport(phase.stages, 20)}}""")

    def r3(d: Double) = math.rint(d * 1000) / 1000
    // Bench's rule, kept here: a query that crashed in ANY pass of
    // EITHER phase must not read as a fast success — its row is pinned
    // to -1 everywhere (time-to-exception is not a timing)
    val perQuery = names.map { n =>
      if (failedQueries.contains(n))
        s""""$n":{"serial_med":-1,"conc_med":-1,"conc_p95":-1,"p95_ratio":-1}"""
      else {
        val sm = graft.Bench.median(serial(n))
        val cs = Option(conc.get(n)).getOrElse(Nil)
        val cm = graft.Bench.median(cs)
        val cp = p95(cs)
        s""""$n":{"serial_med":${r3(sm)},"conc_med":${r3(cm)},"conc_p95":${r3(cp)},"p95_ratio":${r3(cp / math.max(sm, 1e-9))}}"""
      }
    }.mkString("{", ",", "}")
    println(s"""{"mode":"concurrent_bench","threads":$nThreads,"rotations":$rotations,"n_queries":${names.size},"sf":"$sfDir","serial_wall":${r3(serialWall)},"concurrent_wall":${r3(concWall)},"speedup":${r3(serialWall / concWall)},"errors":${errs.size},"per_query":$perQuery}""")
    spark.stop()
    if (!errs.isEmpty) { errs.forEach(e => System.err.println(s"[cbench] $e")); sys.exit(1) }
  }
}
