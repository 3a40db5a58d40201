package graft.scale

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe rewrite primitives for on-disk parquet stores.
  *
  * The sketch-store rollups and the daily document store's retirement
  * rewrite a store FROM its own current contents. Pinning the read with
  * `localCheckpoint` before an in-place `mode("overwrite")` is NOT
  * fault-tolerant: localCheckpoint blocks live in executor memory/disk
  * with the lineage truncated, so an executor loss mid-write leaves the
  * result unrecomputable while the target files are already deleted —
  * unrecoverable loss of exactly the store these layers exist to
  * persist. The safe shape is: write the full result to a TEMP SIBLING
  * directory (the source files are still intact and re-readable on any
  * task retry or executor loss), then swap via renames. A crash before
  * the swap leaves the store untouched plus a stale temp dir that the
  * next run clears; a crash between the two renames leaves the `.old_`
  * copy recoverable by hand — at no point do the only bytes live in
  * volatile executor state.
  */
object Stores {

  /** Hadoop `FileSystem.rename` reports failure by RETURNING FALSE (and
    * on several implementations renames INTO a still-existing target
    * directory as a child) — ignoring it would let a failed swap report
    * success while the store is untouched or, worse, nested. Throw
    * instead: the temp/old siblings are left for inspection and the
    * next run's stale-cleanup. */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path,
                            recovery: String): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"store swap: rename $src -> $dst failed; $recovery")

  /** Replace the store at `dir` with `result` (whose plan may read
    * `dir` itself): write to a temp sibling, swap atomically, clear
    * leftovers — never an in-place overwrite of files the plan reads.
    *
    * `result` is BY-NAME: if a prior run crashed between this method's
    * two renames, the store root is missing and `.old_<name>` holds the
    * only copy — the rename-back recovery below must run BEFORE the
    * caller's plan reads `dir`, or the natural retry dies on a
    * missing-path error with manual recovery as the only way out (the
    * same asymmetry [[swapPartition]]'s guard + [[recoverInterruptedSwaps]]
    * close for partition swaps). */
  def rewriteAtomically(spark: SparkSession, dir: String,
                        result: => DataFrame): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val interrupted = new Path(root.getParent, s".old_${root.getName}")
    if (!fs.exists(root) && fs.exists(interrupted))
      renameOrThrow(fs, interrupted, root,
        s"recovery of interrupted rewrite failed; pre-crash store " +
          s"remains at $interrupted")
    val tmp = new Path(root.getParent, s".rewrite_${root.getName}")
    fs.delete(tmp, true) // stale leftover from a crashed prior run
    result.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(root.getParent, s".old_${root.getName}")
    fs.delete(old, true)
    renameOrThrow(fs, root, old,
      s"store left untouched at $root; rewritten copy preserved at $tmp")
    renameOrThrow(fs, tmp, root,
      s"store contents now live ONLY under $old — rename it back to " +
        s"$root (or $tmp in) to recover")
    fs.delete(old, true)
  }

  /** Swap one `day=<d>` partition of a date-partitioned store: rename
    * the freshly-written `tmpPart` in over `storePart` (renaming the
    * current files away first, then clearing them). Each partition swap
    * is atomic on its own; a crash between partitions leaves every
    * partition either fully old or fully new, all readable.
    *
    * If a PRIOR swap of this partition crashed between its two renames,
    * the partition is missing and `.old_` holds the only surviving copy
    * — and, crucially, `tmpPart` was then built from a store read that
    * silently MISSED this partition (a missing `day=` dir does not fail
    * a root read the way a missing root does). Deleting `.old_` here
    * would destroy the only pre-crash copy and install an
    * incomplete rewrite: refuse loudly instead. Callers avoid ever
    * reaching this state by running [[recoverInterruptedSwaps]] before
    * reading the store. */
  def swapPartition(fs: FileSystem, storePart: Path, tmpPart: Path): Unit = {
    val old = new Path(storePart.getParent, s".old_${storePart.getName}")
    if (!fs.exists(storePart) && fs.exists(old))
      throw new java.io.IOException(
        s"interrupted prior swap detected: $storePart is missing and " +
          s"$old holds the only copy of its pre-crash rows, so the " +
          s"rewrite at $tmpPart was built from an INCOMPLETE store " +
          s"read. Rename $old back to $storePart (or call " +
          s"Stores.recoverInterruptedSwaps on the store root) and " +
          s"re-run — refusing to delete the only surviving copy")
    fs.delete(old, true)
    if (fs.exists(storePart)) renameOrThrow(fs, storePart, old,
      s"partition left untouched at $storePart; new copy preserved at $tmpPart")
    renameOrThrow(fs, tmpPart, storePart,
      s"partition contents now live ONLY under $old — rename it back to " +
        s"$storePart (or $tmpPart in) to recover")
    fs.delete(old, true)
  }

  /** Roll back any swap a prior run left half-done under `dir`: a child
    * `.old_<name>` whose `<name>` sibling is missing marks a crash
    * between [[swapPartition]]'s two renames — rename it back so the
    * store reads complete again (the interrupted rewrite's temp output
    * is stale by definition and is cleared by the caller's own
    * temp-dir cleanup). A `.old_<name>` whose `<name>` DOES exist is
    * garbage from a crash after the second rename; drop it. Run this
    * before any read that feeds a store rewrite — a silently-missing
    * partition would otherwise propagate into the rewritten store.
    * Returns the number of partitions restored. */
  def recoverInterruptedSwaps(fs: FileSystem, dir: Path): Int = {
    if (!fs.exists(dir)) return 0
    var restored = 0
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(".old_")) {
        val live = new Path(dir, name.stripPrefix(".old_"))
        if (!fs.exists(live)) {
          renameOrThrow(fs, st.getPath, live,
            s"recovery of interrupted swap failed; pre-crash rows remain " +
              s"at ${st.getPath}")
          restored += 1
        } else fs.delete(st.getPath, true) // completed swap's leftover
      }
    }
    restored
  }
}
