package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** One-off stage/task anatomy probe for the IVF-PQ encode straggler
  * (r19 embskew: the 1M benign q_embed_ann_ivfpq cell ran as ONE ~92 s
  * task). Reads an ALREADY-MATERIALIZED embedding parquet (the embskew
  * scratch corpus), runs the monolithic annIvfPq once, and prints every
  * stage with its task-count and top task durations — the number that
  * says WHICH stage serialized and on how many tasks.
  *
  * Usage: runMain graft.tools.EncodeProbe <embParquet> [nlist]
  */
object EncodeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nlist = if (args.length > 1) args(1).toInt else 1000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Graft.session("graft-encodeprobe", s"local[$cpus]")
    val tasks = ArrayBuffer.empty[(Int, Long)]   // stageId, ms
    val stages = ArrayBuffer.empty[(Int, Int, String)] // stageId, nTasks, ops
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.synchronized { tasks += ((t.stageId, t.taskInfo.duration)) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages += ((sc.stageInfo.stageId, sc.stageInfo.numTasks,
            sc.stageInfo.rddInfos.map(_.name).distinct.mkString(",")))
        }
    })
    val emb = spark.read.parquet(dir)
    println(s"scan partitions: ${emb.rdd.getNumPartitions}")
    val t0 = System.nanoTime()
    val n = graft.pipeline.Similarity.annIvfPq(
      emb, emb.filter(col("vec_id") < 10),
      nlist = nlist, nprobe = 3, m = 4, ksub = 16, k = 10).count()
    println(f"rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
    Thread.sleep(300)
    val byStage = tasks.synchronized(tasks.toSeq).groupBy(_._1)
    stages.synchronized(stages.toSeq).sortBy(_._1).foreach { case (id, nt, ops) =>
      val ds = byStage.getOrElse(id, Nil).map(_._2).sorted.reverse
      println(f"stage $id%4d tasks=$nt%4d top=${ds.take(3).mkString(",")}ms " +
        f"sum=${ds.sum}ms  ${ops.replaceAll("\\s+", " ").take(80)}")
    }
    spark.stop()
  }
}
