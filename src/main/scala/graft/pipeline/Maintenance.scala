package graft.pipeline

import java.time.LocalDate

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Maintenance of the date-partitioned landing table (SURVEY.md §2.1 S6):
 * the two jobs every `year=/month=/day=` layout needs run against it on
 * a schedule — small-file compaction and retention-window deletes.
 *
 * A streaming append writes one file per trigger per partition, so a
 * day's directory accumulates hundreds of tiny files; at 100 TB the
 * scan's task count (and the namenode's file count) is driven by file
 * count, not bytes — compaction rewrites a closed partition to
 * `targetFiles` files sized for `maxPartitionBytes`. Retention deletes
 * whole partition directories, the O(1)-metadata delete the layout
 * exists to make possible (row-level deletes would rewrite the table).
 *
 * Every compaction is one [[DirSwap]] rewrite of one directory: refuse a
 * bucketed layout, [[DirSwap.recover]] an interrupted earlier swap,
 * stage the new copy, swap it live. Racing readers see the old or the
 * new file set, never both; the rewrite changes LAYOUT only, row content
 * is preserved exactly.
 */
object Maintenance {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files under a directory (ignores _SUCCESS/metadata/hidden). */
  def dataFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath)
      .filter(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
  }

  /** Compact ONE day partition of the landing table to `targetFiles`
    * files ([[compactDir]] of its directory). Run on CLOSED partitions
    * (past the watermark / no longer appended). */
  def compactPartition(spark: SparkSession, tablePath: String,
      year: String, month: String, day: String, targetFiles: Int = 1): Unit =
    compactDir(spark, s"$tablePath/year=$year/month=$month/day=$day",
      targetFiles)

  /** Compact ONE flat parquet directory (an unpartitioned table that
    * accretes small files across appends — e.g. the five
    * [[graft.llm.DedupIndex]] tables) to `targetFiles` files. */
  def compactDir(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    rewrite(spark, dir)(_.coalesce(targetFiles).write.mode("overwrite")
      .parquet(_))

  /**
   * Compact a WHOLE hive-partitioned table (e.g. [[graft.llm.IvfIndex]]'s
   * cell-partitioned `assignments`/`pq_codes`, which accrete one file
   * set per touched cell per append) in one job: `repartition(partCol)`
   * puts every row of a partition on one task, so dynamic partitioning
   * emits one file per partition value, and the swap replaces the table
   * root in one step.
   */
  def compactHivePartitioned(spark: SparkSession, dir: String,
      partCol: String): Unit =
    rewrite(spark, dir)((df, to) => df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(to))

  /**
   * The one compaction step: refuse a bucketed layout, recover, stage
   * `write(<live rows>, <staged path>)`, swap. The refusal comes first: a
   * bucketed table's bucket↔file mapping lives in the part-file names
   * ([[Bucketed]] scaladoc), and a coalesce-rewrite would destroy it
   * SILENTLY — the catalog would keep promising co-located joins over
   * files that no longer honor the hash placement, returning wrong rows.
   */
  private def rewrite(spark: SparkSession, dir: String)(
      write: (DataFrame, String) => Unit): Unit = {
    if (Bucketed.isBucketedDir(spark, dir))
      throw new IllegalStateException(
        s"compaction: '$dir' backs a BUCKETED table (${Bucketed.Marker} " +
          "present) — a coalesce rewrite would silently destroy the " +
          "bucket-file mapping every co-located join depends on; " +
          "run Bucketed.compact or re-run Bucketed.write instead")
    val f = fs(spark, new Path(dir))
    DirSwap.recover(f, dir)
    require(f.exists(new Path(dir)), s"compaction: no such directory: $dir")
    DirSwap.stage(dir)(write(spark.read.parquet(dir), _))
    DirSwap.swap(f, Seq(dir))
  }

  /** Startup recovery for an interrupted compaction of `dir`
    * ([[DirSwap.recover]]; every compaction also runs it first). Returns
    * true iff a rollback ran. */
  def recoverCompaction(spark: SparkSession, dir: String): Boolean =
    DirSwap.recover(fs(spark, new Path(dir)), dir)

  /**
   * Retention-window delete: remove every day-partition directory dated
   * before `cutoff`, which must be an ISO `yyyy-MM-dd` date (anything else
   * throws: a string comparison against `2024-1-8` would drop most of
   * 2024). Directories whose `year=/month=/day=` names do not form a
   * valid date are skipped. Pure directory metadata operations — no data
   * is read or rewritten. Returns the number of partitions dropped. For a
   * CATALOG table, follow with `spark.catalog.recoverPartitions` so the
   * metastore forgets them.
   */
  def dropPartitionsBefore(spark: SparkSession, tablePath: String,
      cutoff: String): Int = {
    val cut = isoDate(cutoff).getOrElse(throw new IllegalArgumentException(
      s"dropPartitionsBefore: cutoff '$cutoff' is not an ISO yyyy-MM-dd date"))
    val root = new Path(tablePath)
    val f = fs(spark, root)
    def sub(p: Path, key: String): Seq[Path] = f.listStatus(p).toSeq
      .map(_.getPath).filter(_.getName.startsWith(s"$key="))
    val expired = for {
      y <- sub(root, "year"); m <- sub(y, "month"); d <- sub(m, "day")
      date <- isoDate(Seq(y, m, d).map(_.getName.split("=", 2)(1)).mkString("-"))
      if date.isBefore(cut)
    } yield d
    expired.foreach(f.delete(_, true))
    expired.size
  }

  /** `s` as a date iff it is exactly its own ISO `yyyy-MM-dd` form. */
  private def isoDate(s: String): Option[LocalDate] =
    Try(LocalDate.parse(s)).toOption.filter(_.toString == s)
}
