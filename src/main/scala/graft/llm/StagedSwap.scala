package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Torn-safe multi-table swap behind [[IndexLifecycle.rebuild]]. A
 * rebuild stages every table under `<dir>/<table>__graft_tmp`, then
 * calls [[swapAll]]:
 *
 *  - PHASE 1 renames per table (live → `__graft_old`, staged → live)
 *    WITHOUT deleting anything: a crash between two renames leaves each
 *    table's previous copy intact under `__graft_old`, so a torn index
 *    (new table A + old table B would silently serve mixed versions) is
 *    always RECOVERABLE.
 *  - ROLLBACK: if any phase-1 rename fails, the tables already swapped
 *    are rolled back (new live re-staged to `__graft_tmp`, old restored
 *    to live) before rethrowing — the index is left on a SINGLE
 *    consistent (previous) version instead of mixed across two, and the
 *    staged copies survive for inspection or a retried swap. Rollback
 *    failures are attached as suppressed exceptions, never swallowed.
 *  - PHASE 2 deletes the old copies only after ALL tables are live on
 *    the new version.
 */
object StagedSwap {

  val TmpSuffix = "__graft_tmp"

  def livePath(dir: String, table: String): Path = new Path(s"$dir/$table")
  def tmpPath(dir: String, table: String): Path =
    new Path(s"$dir/$table$TmpSuffix")
  def oldPath(dir: String, table: String): Path =
    new Path(s"$dir/${table}__graft_old")

  /** Delete the staging dirs of `tables`: before a rebuild, so a stale
    * `__graft_tmp` left by a PREVIOUS failed run can never be mistaken
    * for this run's staged state, and after a failure BEFORE the swap,
    * so distinct failed rebuilds do not accumulate debris. */
  def cleanupTmp(fs: FileSystem, dir: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val tmp = tmpPath(dir, t)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }

  /** Swap every table's staged copy live (see object scaladoc). Assumes
    * `<dir>/<t>__graft_tmp` exists for every `t` and `<dir>/<t>` is the
    * current live version. */
  def swapAll(fs: FileSystem, dir: String, tables: Seq[String]): Unit = {
    val attempted = scala.collection.mutable.ListBuffer.empty[String]
    try {
      tables.foreach { t =>
        val (live, tmp, old) =
          (livePath(dir, t), tmpPath(dir, t), oldPath(dir, t))
        if (fs.exists(old)) fs.delete(old, true)
        attempted += t
        require(fs.rename(live, old), s"swap: rename $live -> $old failed")
        require(fs.rename(tmp, live), s"swap: rename $tmp -> $live failed")
        IndexLifecycle.step(s"swap $t")
      }
    } catch {
      case e: Throwable =>
        // Roll the index back onto the single previous version. Reverse
        // order (most recently touched first); per table the filesystem
        // state says how far its swap got:
        //  - live && old  -> fully swapped (live is NEW): re-stage live
        //    to tmp, restore old -> live;
        //  - !live && old -> half swapped (rename tmp->live failed):
        //    restore old -> live, staged copy already intact under tmp;
        //  - live && !old -> rename live->old failed: nothing moved.
        attempted.toList.reverse.foreach { t =>
          val (live, tmp, old) =
            (livePath(dir, t), tmpPath(dir, t), oldPath(dir, t))
          try {
            if (fs.exists(old)) {
              if (fs.exists(live)) {
                if (fs.exists(tmp)) fs.delete(tmp, true)
                if (!fs.rename(live, tmp))
                  throw new IllegalStateException(
                    s"rollback: rename $live -> $tmp failed")
              }
              if (!fs.rename(old, live))
                throw new IllegalStateException(
                  s"rollback: rename $old -> $live failed")
            }
          } catch { case r: Throwable => e.addSuppressed(r) }
        }
        throw e
    }
    IndexLifecycle.step("swapped")
    tables.foreach(t => fs.delete(oldPath(dir, t), true))
  }
}
