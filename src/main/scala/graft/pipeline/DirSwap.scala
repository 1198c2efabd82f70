package graft.pipeline

import scala.collection.mutable.ListBuffer
import scala.util.DynamicVariable

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The one directory-swap protocol behind every layout rewrite: landing-
 * table and index compaction ([[Maintenance]]), bucketed compaction
 * ([[Bucketed.compact]]) and the staged index rebuilds
 * ([[graft.llm.IndexLifecycle]]). A rewrite [[recover]]s, writes the new
 * copy of each live directory to its staged path ([[stage]]), then
 * [[swap]]s them live:
 *
 *  - per path, the live copy is renamed to its old path and the staged
 *    copy to the live path; nothing is deleted yet, so a crash leaves
 *    every path's previous copy intact;
 *  - if a rename fails, the paths already touched are rolled back (new
 *    live re-staged, old restored) before rethrowing, so a table set is
 *    left on one version and the staged copies survive for a retry;
 *    rollback failures are attached as suppressed exceptions;
 *  - the old copies are deleted only after every path is live.
 *
 * Naming: the staged and old copies of `<parent>/<name>` are
 * `<parent>/_graft_tmp/<name>` and `<parent>/_graft_old/<name>`. Spark's
 * file index (like Hive's) skips a child whose name starts with `_` and
 * has no `=`, so neither copy shows up when a reader lists the live path
 * or the table above it: a staged `day=15` inside `month=01` is never
 * read as a partition. A holder directory is removed once empty.
 *
 * Between a path's two renames the live path does not exist: a reader
 * racing them sees a table root as not-found, or a partitioned table
 * without that partition, until the second rename lands or, after a
 * crash, [[recover]] restores the old copy. Single writer per parent.
 */
object DirSwap {

  val StagedDir = "_graft_tmp"
  private val OldDir = "_graft_old"

  def staged(live: String): String = beside(live, StagedDir)
  def old(live: String): String = beside(live, OldDir)

  private def beside(live: String, holder: String): String = {
    val p = new Path(live)
    new Path(new Path(p.getParent, holder), p.getName).toString
  }

  /** Test seam for crash and fault injection: receives the name of each
    * protocol step right after it completes: "stage <name>" from
    * [[stage]], "swap <name>" and "swapped" from [[swap]], and the steps
    * callers announce through [[step]]. */
  private[graft] val stepHook = new DynamicVariable[String => Unit](_ => ())

  private[graft] def step(name: String): Unit = stepHook.value(name)

  /** Write `live`'s staged copy through `write` (given the staged path). */
  def stage(live: String)(write: String => Unit): Unit = {
    write(staged(live))
    step(s"stage ${new Path(live).getName}")
  }

  /**
   * Repair an interrupted swap of `live`, for each crash state:
   *  - staged copy beside an intact live copy (crash before any rename):
   *    drop the staged copy;
   *  - live copy missing, old copy present (crash between the renames):
   *    rename the old copy back;
   *  - live and old copies both present (crash before the cleanup): drop
   *    the old copy.
   * Idempotent; returns true iff a rollback (old → live) ran.
   */
  def recover(fs: FileSystem, live: String): Boolean = {
    val (l, s, o) = paths(live)
    val rolledBack = !fs.exists(l) && fs.exists(o) && fs.rename(o, l)
    drop(fs, s)
    if (fs.exists(l)) drop(fs, o)
    rolledBack
  }

  /** Swap the staged copy of every path in `lives` live (see the object
    * scaladoc). Runs on recovered paths: each staged copy written, no
    * old copy left. */
  def swap(fs: FileSystem, lives: Seq[String]): Unit = {
    val touched = ListBuffer.empty[String]
    try lives.foreach { live =>
      val (l, s, o) = paths(live)
      require(!fs.exists(o), s"swap: stale old copy $o; recover first")
      touched += live
      move(fs, l, o)
      move(fs, s, l)
      step(s"swap ${l.getName}")
    } catch {
      case e: Throwable =>
        // Most recently touched first; per path the filesystem says how
        // far its swap got: live && old = fully swapped (re-stage live,
        // restore old); only old = half swapped (restore old; the staged
        // copy is intact); only live = nothing moved.
        touched.reverseIterator.map(paths).foreach { case (l, s, o) =>
          try {
            if (fs.exists(o)) {
              if (fs.exists(l)) move(fs, l, s)
              move(fs, o, l)
            }
            drop(fs, o)
          } catch { case r: Throwable => e.addSuppressed(r) }
        }
        throw e
    }
    step("swapped")
    lives.map(paths).foreach { case (_, s, o) => drop(fs, o); drop(fs, s) }
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit = {
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"swap: rename $from -> $to failed")
  }

  private def paths(live: String): (Path, Path, Path) =
    (new Path(live), new Path(staged(live)), new Path(old(live)))

  /** Delete `p` if present, then its holder directory once empty. */
  private def drop(fs: FileSystem, p: Path): Unit = {
    if (fs.exists(p)) fs.delete(p, true)
    val holder = p.getParent
    if (fs.exists(holder) && fs.listStatus(holder).isEmpty)
      fs.delete(holder, false)
  }
}
