package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults. */
object Graft {

  /** Apply engine defaults to an existing session (runtime-settable confs
    * only — safe to call on a driver-provided session). */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // events.ts is parquet TIMESTAMP(NANOS): Spark 4 only reads it as long.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // AQE coalescing targets max(total/parallelism, minPartitionSize) —
    // with the 1 MB default, a CPU-heavy but byte-small shuffle (gram
    // fingerprints, digests, simhash keys: ~8 B/row) collapses to 1-2
    // reduce tasks on a 32-core box while the cores idle. 64 KB keeps
    // such stages at full parallelism; at real scale shuffles are
    // GB-sized and total/parallelism dominates, so this floor never
    // binds there.
    c.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The master a session starts on: the one the submitter put in the
    * conf (`spark-submit --master` lands there as `spark.master`), else
    * `master`. */
  private[graft] def masterOf(submitted: SparkConf, master: String): String =
    submitted.get("spark.master", master)

  /** The session's shuffle width, and so the number of state stores each
    * stateful streaming operator keeps: the submitter's explicit
    * `spark.sql.shuffle.partitions` (`--conf`), else one partition per
    * task slot. */
  private[graft] def widthOf(submitted: SparkConf, slots: Int): Int =
    submitted.getInt(ShufflePartitions, slots)

  /** The engine's one session factory, used by the apps, `perfbench/`
    * and the tools alike.
    *
    * Shuffle width equals the task slots (`defaultParallelism`) unless the
    * submitter set it. A stateful streaming query keeps one state store
    * per shuffle partition and commits every one of them each micro-batch,
    * so a width above the slot count only adds task waves to every batch.
    * A query's checkpoint freezes the width it started with: a restart
    * runs the checkpoint's partition count whatever the session says.
    *
    * On a cluster with dynamic allocation, `defaultParallelism` at start
    * can be below the steady executor count; pass
    * `--conf spark.sql.shuffle.partitions=N` there. */
  def session(appName: String = "graft", master: String = "local[*]"): SparkSession = {
    // spark-submit hands --master and --conf to the driver as spark.*
    // system properties, which a fresh SparkConf loads
    val submitted = new SparkConf()
    val spark = SparkSession.builder()
      .master(masterOf(submitted, master))
      .appName(appName)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(ShufflePartitions,
      widthOf(submitted, spark.sparkContext.defaultParallelism).toLong)
    tune(spark)
  }
}
