package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Bucketed table layout as a first-class operator — the co-located
 * fact-fact join story for 100 TB (SURVEY.md §2.5 joins): both sides of
 * a recurring join are written bucketed (and sorted) on the join key
 * into the SAME bucket count, so their bucket files are partitioned
 * identically ON DISK and the join plans with NO exchange on either
 * side (q219 pins zero `Exchange hashpartitioning`); a `key = literal`
 * predicate prunes the scan to ONE bucket file (q234 pins
 * `SelectedBucketsCount: 1 out of N`). At scale that is the difference
 * between re-shuffling terabytes per query and a local merge per
 * bucket pair — paid once at write time.
 *
 * THE BUCKET-COUNT-MUST-MATCH RULE: Spark co-locates a join only when
 * both tables were bucketed on the join key with the SAME `nBuckets`
 * (hash placement is `murmur3(key) pmod nBuckets` — different counts
 * map the same key to different files, and the planner re-shuffles).
 * Write every table of a join family with one agreed bucket count.
 *
 * Layout invariant: bucketing lives in the FILE-NAME ↔ bucket mapping
 * (`part-…_00003` = bucket 3). Any job that rewrites the directory
 * without `bucketBy` — compaction above all — silently destroys the
 * mapping while the catalog still promises it, and every later join
 * returns WRONG results (rows hash to buckets the files no longer
 * honor). [[write]] therefore stamps a [[Marker]] file at the data
 * root, and every [[Maintenance]] compaction refuses loudly when it sees
 * it; evolving a bucketed table means re-running [[write]] (which
 * rewrites the whole layout with the bucket spec intact) or [[compact]].
 *
 * Reference behavior: the reference's Spark notebook lands plain
 * year/month/day partitions (spark-notebook ipynb cells 4-5); bucketed
 * layout is this engine's scale path for the join-heavy analytics the
 * reference runs downstream.
 */
object Bucketed {

  /** Marker file stamped at a bucketed table's data-dir root; the
    * maintenance jobs key their refusal off it. */
  val Marker = "_graft_buckets"

  /**
   * Write `df` as an EXTERNAL bucketed table: data under `path`,
   * registered in the session catalog as `tableName`, bucketed and
   * sorted on `key` into `nBuckets` bucket files. Idempotent
   * re-registration: a stale catalog entry from an earlier JVM (or a
   * partially-failed save) is dropped first and the data dir is
   * overwritten — never `ErrorIfExists` against a persistent metastore.
   */
  def write(df: DataFrame, tableName: String, path: String, key: String,
      nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    df.write.format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(tableName)
    // marker LAST — only a fully-landed layout gets the stamp
    stampMarker(spark, path, key, nBuckets)
  }

  private def stampMarker(spark: SparkSession, dir: String, key: String,
      nBuckets: Int): Unit = {
    val p = new Path(dir, Marker)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(s"key=$key\nbuckets=$nBuckets\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The registered bucketed table — reads carry the bucket spec from
    * the catalog, which is what enables exchange-free joins and
    * single-bucket point-lookup pruning. */
  def read(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /**
   * Append to an existing bucketed table WITH the bucket spec: every
   * append lands one new file set per bucket (Spark groups a bucket's
   * files by the `_NNNNN` name component at read time, so correctness
   * is unaffected) — which is exactly how a bucketed fact table accretes
   * small files and why [[compact]] exists. The spec passed here must
   * match the table's (Spark refuses a mismatch — the
   * bucket-count-must-match rule enforced at write time).
   */
  def append(df: DataFrame, tableName: String, key: String,
      nBuckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .mode("append")
      .saveAsTable(tableName)

  /** Spark's bucket-file name component: `part-…_00003.c000….parquet`
    * ⇒ bucket 3. Every data file of a Spark-written bucketed layout
    * carries it; a file without it cannot be assigned to a bucket. */
  private val BucketFilePattern = ".*_\\d{5}(?:\\.c\\d+)?(?:\\..*)?\\.parquet$".r

  /**
   * BUCKET-AWARE compaction (round 20 — the maintenance path the plain
   * refusal in [[Maintenance.compactDir]] lacked): collapse an
   * append-accreted bucketed table back to ONE file per bucket while
   * PRESERVING the bucket-file mapping the catalog promises.
   *
   * How the mapping survives: the rewrite re-reads the table and writes
   * a fresh BUCKETED layout (same key, same bucket count) to its staged
   * copy through a temporary external table — Spark itself emits the
   * `_NNNNN` bucket-file names, so the new layout honors the hash
   * placement by construction. `repartition(nBuckets, key)` first puts
   * each bucket's rows on exactly one task (repartition's hash
   * placement, `pmod(murmur3, n)`, IS the bucket placement), so each
   * bucket lands as a single sorted file. The rows are read from the
   * data files by path, not through the catalog: a bucketed scan
   * already reports that hash partitioning, so the planner drops the
   * repartition as redundant, and `DisableUnnecessaryBucketedScan`
   * (on by default) then finds nothing that needs the bucketed scan and
   * turns it into plain file splits that each hold rows of several
   * buckets — several files per bucket. The new layout is staged and
   * swapped live by [[DirSwap]] (readers see old or new, never a mix; an
   * interrupted earlier swap is recovered first), and the catalog entry
   * — which points at the same path with the same spec — needs only a
   * refresh.
   *
   * The REFUSAL is retained for layouts this job cannot prove are
   * Spark's: any data file without the `_NNNNN` bucket component (a
   * Hive-bucketed import, a hand-assembled dir) throws before anything
   * is written — compacting a mapping you can't parse is how wrong
   * joins happen.
   */
  def compact(spark: SparkSession, tableName: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(tableName))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"compact: table '$tableName' has no bucket spec — use " +
        "Maintenance.compactDir for unbucketed layouts"))
    require(spec.bucketColumnNames.size == 1,
      s"compact: single-column bucket keys only, got ${spec.bucketColumnNames}")
    val key = spec.bucketColumnNames.head
    val dir = new Path(meta.location).toUri.getPath
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.recover(fs, dir)
    val stray = Maintenance.dataFiles(spark, dir)
      .filterNot(p => BucketFilePattern.matches(p.getName))
    if (stray.nonEmpty)
      throw new IllegalStateException(
        s"compact: '$dir' contains data files without Spark's _NNNNN " +
          s"bucket-name component (${stray.take(3).map(_.getName).mkString(", ")}) " +
          "— a non-Spark bucket layout; refusing to rewrite a " +
          "bucket-file mapping that cannot be parsed")
    DirSwap.stage(dir) { tmp =>
      val tmpTable = tableName + "__graft_compact"
      spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
      spark.read.schema(meta.schema).parquet(dir)
        .repartition(spec.numBuckets, org.apache.spark.sql.functions.col(key))
        .write.format("parquet")
        .bucketBy(spec.numBuckets, key).sortBy(key)
        .option("path", tmp)
        .mode("overwrite")
        .saveAsTable(tmpTable)
      // external table: dropping the catalog entry leaves the files
      spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
      stampMarker(spark, tmp, key, spec.numBuckets)
    }
    DirSwap.swap(fs, Seq(dir))
    spark.catalog.refreshTable(tableName)
  }

  /** True iff `dir` is the data root of a bucketed table ([[Marker]]
    * present) — the predicate the maintenance jobs refuse on. */
  def isBucketedDir(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, Marker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
