package graft.tools

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Retry-determinism probe: at 100 TB task retries are ROUTINE (spot
  * instance loss, fetch failures, speculative kills), and a pipeline is
  * only correct there if a re-executed task reproduces its first
  * attempt's contribution exactly — Spark recomputes lost partitions
  * from lineage, so any nondeterminism upstream of a shuffle write
  * (unseeded randomness, unstable row order feeding a round-robin
  * repartition without `sortBeforeRepartition`, time-dependent values)
  * silently corrupts results rather than failing. Local test runs never
  * exercise this: `local[n]` defaults to `maxFailures=1`, where the
  * first failure kills the job instead of retrying it.
  *
  * This probe runs representative heavy-tier operators twice on a
  * `local[8, 3]` master (task retries ENABLED) over the same synthetic
  * corpus: once clean, once with an injected exception on attempt 0 of
  * every 4th source-side task (via [[failFirstAttempt]], a
  * mapPartitions wrapper AHEAD of the operator that throws mid-stream,
  * so a retry that resumed instead of recomputing would double-count).
  * It then asserts the two results are row-identical under a canonical
  * sort. Any diff — or a run where no task actually failed and was
  * retried — exits 1.
  *
  * Usage: `runMain graft.tools.RetryProbe [nDocs]` (default 50000).
  * Prints one JSON line per query:
  * `{"query":q,"rows":N,"task_failures":K,"identical":true}`.
  */
object RetryProbe {

  /** Wraps `df` so the FIRST attempt of every `every`-th source task
    * throws after draining 20 rows (mid-stream). Later attempts pass
    * through untouched. */
  private def failFirstAttempt(df: DataFrame, every: Int): DataFrame = {
    val schema = df.schema
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() % every == 0
          && tc.attemptNumber() == 0) {
        new Iterator[org.apache.spark.sql.Row] {
          private var n = 0
          override def hasNext: Boolean = {
            if (n >= 20) throw new RuntimeException(
              s"[retry-probe] injected failure, partition ${tc.partitionId()}")
            it.hasNext
          }
          override def next(): org.apache.spark.sql.Row = { n += 1; it.next() }
        }
      } else it
    }(Encoders.row(schema))
  }

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*)
      .collect()
      .map(_.toString)
      .sorted
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(50000L)
    // local[threads, maxFailures]: 3 attempts per task, so one
    // injected attempt-0 failure per task still completes the job
    val spark = graft.core.Graft.session("graft-retryprobe", "local[8, 3]")
    spark.conf.set("spark.sql.shuffle.partitions", 8L)
    spark.sparkContext.setLogLevel("ERROR") // injected failures are noisy at WARN
    val meter = StageMeter(spark)

    val scratch = sys.env.getOrElse("SPARK_GRAFT_SMOKE_SCRATCH",
      "/tmp/graft_retry_probe")
    graft.core.DocSynth.documents(spark, nDocs)
      .write.mode("overwrite").parquet(s"$scratch/docs")
    graft.core.DocSynth.embeddings(spark, nDocs * 2 / 5)
      .write.mode("overwrite").parquet(s"$scratch/emb")
    // repartition the sources so there are enough tasks to inject into
    // (a few-row-group parquet dir reads as a few tasks otherwise)
    val docs = spark.read.parquet(s"$scratch/docs")
      .repartition(16, col("doc_id"))
    val emb = spark.read.parquet(s"$scratch/emb")
      .repartition(16, col("vec_id"))

    // the shapes that exercise the retry-sensitive machinery: multi-way
    // shuffles (banded LSH), iterative persist/localCheckpoint loops
    // (connected components), a composed pipeline (curate), and the
    // embedding tier (coarse assignment + cluster-scoped pair confirm).
    // Each entry: (name, which source gets the fault); the operator and
    // its configuration come from [[ScaleSmoke.docQueries]] — the SAME
    // registry the smoke rows measure, so retry determinism is probed
    // on the configurations the ledger actually records.
    val queries: Seq[(String, String)] = Seq(
      ("q_minhash_candidates", "docs"),
      ("q_edit_distance_capped", "docs"),
      ("q_dedup_cluster", "docs"),
      ("q_curate", "docs"),
      ("q_semdedup", "emb"))
    def mkFor(name: String, d: DataFrame, e: DataFrame): DataFrame =
      ScaleSmoke.docQueries(d, e, nDocs, scratch).toMap.apply(name)()

    var rc = 0
    queries.foreach { case (name, faultSide) =>
      val clean = canon(mkFor(name, docs, emb))
      // failed attempts of this run's own stages: the meter sees every
      // task end, failed attempts included — unlike user accumulators,
      // whose updates from failed tasks are discarded
      val run = meter.measure(name)(canon(faultSide match {
        case "emb" => mkFor(name, docs, failFirstAttempt(emb, every = 4))
        case _ => mkFor(name, failFirstAttempt(docs, every = 4), emb)
      }))
      val injected = run.value
      val fired = run.failed
      val ok = clean == injected
      // a probe where nothing failed proves nothing — fail loudly
      if (!ok || fired == 0) rc = 1
      println(s"""{"query":"$name","rows":${clean.size},""" +
        s""""task_failures":$fired,"identical":$ok}""")
      if (!ok) {
        val diff = (clean.diff(injected) ++ injected.diff(clean)).take(5)
        diff.foreach(r => System.err.println(s"[retry-probe] $name DIFF: $r"))
      }
    }
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
