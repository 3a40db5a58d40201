package graft.tools

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one stage meter every tool measures through: a single listener
  * that keys completed stages by the job group their jobs ran in.
  *
  * [[measure]] runs its body in a fresh job group, then drains the
  * listener bus exactly: it runs a one-task marker job in a second group
  * and waits for that job's start event. The bus delivers events in
  * order, and every stage, task and job event of the body's jobs was
  * posted before the body's action returned, so once the marker's start
  * arrives the body's records are complete. Records are keyed by group,
  * so one measurement's late events can never be charged to the next.
  */
final class StageMeter private (private val sc: SparkContext) extends SparkListener {
  import StageMeter._

  /** One measurement in progress: its jobs and completed stages. */
  private final class Open {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]
  }
  private final class Origin(val open: Open, val pool: String, val query: String)
  private final class Tally {
    var maxMs = 0L; var slow = 0; var failed = 0
  }

  private val seq = new AtomicLong
  private val open = new ConcurrentHashMap[String, Open]
  private val markers = new ConcurrentHashMap[String, CountDownLatch]
  private val origin = new ConcurrentHashMap[Int, Origin]
  private val tallies = new ConcurrentHashMap[Int, Tally]
  // the measurement that takes jobs of every other group (streaming
  // micro-batches run in their query's own group)
  @volatile private var catchAll: Open = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new Properties)
    val group = Option(p.getProperty(GroupKey))
    group.flatMap(g => Option(markers.get(g))) match {
      case Some(marker) => marker.countDown()
      case None =>
        group.flatMap(g => Option(open.get(g))).orElse(Option(catchAll)).foreach { o =>
          o.jobs.incrementAndGet()
          // streaming rewrites the description with the multi-line query
          // status: keep its first line
          val query = Option(p.getProperty("spark.job.description")).getOrElse("?")
            .linesIterator.map(_.trim).find(_.nonEmpty).getOrElse("?")
          val pool = p.getProperty("spark.scheduler.pool", "default")
          // a stage reused by a later job stays with the job that ran it
          e.stageIds.foreach(origin.putIfAbsent(_, new Origin(o, pool, query)))
        }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && origin.containsKey(e.stageId)) {
      // callbacks arrive on the bus's one dispatch thread
      val t = tallies.computeIfAbsent(e.stageId, _ => new Tally)
      val ms = e.taskInfo.duration
      t.maxMs = math.max(t.maxMs, ms)
      if (ms >= 1000L) t.slow += 1
      if (!e.taskInfo.successful) t.failed += 1
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(origin.get(si.stageId)).foreach { o =>
      val t = Option(tallies.remove(si.stageId)).getOrElse(new Tally)
      val m = Option(si.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
      o.open.stages.add(Stage(
        id = si.stageId,
        // AQE query-stage names are all "withThreadLocalCaptured…"; the
        // RDD callsites inside the stage carry the operator names
        ops = si.rddInfos.map(_.name).distinct.toSeq,
        ms = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(-1L),
        tasks = si.numTasks,
        execMs = metric(_.executorRunTime),
        jvmGcMs = metric(_.jvmGCTime),
        shuffleBytes = metric(_.shuffleWriteMetrics.bytesWritten),
        shuffleRecords = metric(_.shuffleWriteMetrics.recordsWritten),
        memSpill = metric(_.memoryBytesSpilled),
        diskSpill = metric(_.diskBytesSpilled),
        maxTaskMs = t.maxMs,
        slowTasks = t.slow,
        failed = t.failed,
        pool = o.pool,
        query = o.query))
    }
  }

  /** Run `body` in a fresh job group and return it with its wall time,
    * its jobs and every stage its jobs ran. With `allGroups`, jobs that
    * start in any other group while `body` runs count too (the threads
    * `body` starts inherit its group; streaming queries set their own). */
  def measure[A](label: String, allGroups: Boolean = false)(body: => A): Measured[A] = {
    val group = s"$label-${seq.incrementAndGet()}"
    val o = new Open
    open.put(group, o)
    if (allGroups) catchAll = o
    val saved = JobKeys.map(k => k -> sc.getLocalProperty(k))
    try {
      sc.setJobGroup(group, label)
      val t0 = System.nanoTime()
      val value = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      drain()
      Measured(value, wallMs, group, o.jobs.get, o.stages.asScala.toSeq.sortBy(_.id))
    } finally {
      if (allGroups) catchAll = null
      open.remove(group)
      origin.asScala.collect { case (id, x) if x.open eq o => id }
        .foreach { id => origin.remove(id); tallies.remove(id) }
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Returns once the bus has delivered every event posted before the
    * call: the start of a one-task marker job is the barrier. */
  private def drain(): Unit = {
    val group = s"stage-meter-drain-${seq.incrementAndGet()}"
    val marker = new CountDownLatch(1)
    markers.put(group, marker)
    try {
      sc.setJobGroup(group, "stage meter drain")
      sc.parallelize(Seq(0), 1).count()
      // the marker's start event is in the queue; only a dropped event
      // (bus queue overflow) keeps it from arriving
      if (!marker.await(10, TimeUnit.MINUTES))
        throw new IllegalStateException(
          "listener bus dropped the stage meter's drain marker")
    } finally markers.remove(group)
  }
}

object StageMeter {
  private val GroupKey = "spark.jobGroup.id"
  private val JobKeys = Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")

  /** One completed stage attempt. Times are milliseconds; `ms` is
    * submission to completion, `execMs`/`jvmGcMs` are summed over tasks,
    * `maxTaskMs` is the longest task attempt, `slowTasks` counts task
    * attempts of a second or more and `failed` the attempts that failed.
    * `pool` and `query` are the scheduler pool and first line of the
    * job description of the job that ran it. `ops` are the names of the
    * stage's RDDs; one built inside `AdaptiveSparkPlan` is a whole plan
    * fragment. */
  final case class Stage(id: Int, ops: Seq[String], ms: Long, tasks: Int,
                         execMs: Long, jvmGcMs: Long,
                         shuffleBytes: Long, shuffleRecords: Long,
                         memSpill: Long, diskSpill: Long,
                         maxTaskMs: Long, slowTasks: Int, failed: Int,
                         pool: String, query: String)

  /** A measured body: its value, wall time, job group, job count and
    * stages. */
  final case class Measured[A](value: A, wallMs: Double, group: String,
                               jobs: Int, stages: Seq[Stage]) {
    def stageSumMs: Long = stages.map(_.ms).sum
    /** wall − Σstage: scheduler and AQE orchestration, fixed per stage
      * count rather than per byte. */
    def floorMs: Double = wallMs - stageSumMs
    def failed: Int = stages.map(_.failed).sum
  }

  private var current: StageMeter = null

  /** The session's meter, registered on first use: one per context. */
  def apply(spark: SparkSession): StageMeter = synchronized {
    val sc = spark.sparkContext
    if (current == null || (current.sc ne sc)) {
      current = new StageMeter(sc)
      sc.addSparkListener(current)
    }
    current
  }

  /** Each RDD name's leading operator token (`AdaptiveSparkPlan`,
    * `MapPartitionsRDD`), distinct, in stage order: a plan fragment's
    * tree and attribute lists stay out of the tables. */
  def opNames(s: Stage): Seq[String] =
    s.ops.flatMap(OpToken.findFirstIn(_)).distinct

  private val OpToken = "[A-Za-z][A-Za-z0-9_$]*".r

  /** The per-stage table the tools print, slowest stage first. */
  def table(stages: Seq[Stage]): Seq[String] =
    stages.sortBy(-_.ms).map { s =>
      f"  stage ${s.id}%4d  wall ${s.ms}%7d ms  exec ${s.execMs}%8d ms  " +
        f"gc ${s.jvmGcMs}%6d ms  ${s.shuffleBytes / 1e6}%9.1f MB  " +
        f"${s.shuffleRecords}%12d recs  ${s.tasks}%4d tasks  " +
        opNames(s).take(6).mkString(",")
    }
}
