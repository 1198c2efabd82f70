package graft.llm

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}

/**
 * The write protocol of the seven persisted index lifecycles ([[DedupIndex]],
 * [[IvfIndex]], [[DeconIndex]], [[BpeIndex]], [[DsirIndex]],
 * [[ClassifierIndex]], [[UnigramIndex]]), owned once. Each index declares
 * its kind and tables here and keeps only its model-specific parts: table
 * writers, probes, scorers, content signatures and extra health checks.
 *
 * Every mutation runs under the [[WriterLease]]; every version change
 * stamps each table with one fresh version and writes the [[SwapManifest]]
 * LAST, so a crash at any step leaves readers on the old version or
 * failing loudly at [[open]]:
 *
 *  - [[build]]: write the live tables, stamp them, manifest last;
 *  - [[rebuild]]: clear stale staging, write and stamp `__graft_tmp`
 *    copies, [[StagedSwap.swapAll]] them live, manifest last; a failure
 *    before the swap removes the staging copies and leaves the live
 *    version untouched;
 *  - [[compact]]: rewrite each table's files and re-stamp it from the
 *    manifest (layout changes, content and version do not);
 *  - [[adopt]]: bless a pre-manifest artifact after the index's own
 *    content check.
 *
 * `kind` names the index in errors ("BPE index"); its first word,
 * lower-cased, prefixes the lease job names ("bpe rebuild"). `tables` is
 * the index's table set: what [[adopt]] stamps, what a [[rebuild]] sweeps
 * staging copies of, and what [[compact]] rewrites by default.
 */
private[graft] final class IndexLifecycle(val kind: String,
    val tables: Seq[String]) {
  import IndexLifecycle._
  import SwapManifest.{fsOf, readManifest, writeManifest}

  private def job(verb: String): String =
    s"${kind.stripSuffix(" index").toLowerCase} $verb"

  /** Write the live tables through `write`, then stamp every table it
    * wrote with one fresh version and write a manifest naming exactly
    * those tables. */
  def build(spark: SparkSession, dir: String, verb: String = "build")(
      write: Out => Unit): Unit =
    WriterLease.withLease(spark, dir, job(verb)) {
      val out = new Out(dir, "")
      write(out)
      val fs = fsOf(spark, dir)
      val v = stampEach(fs, dir, out.written, "")
      writeManifest(fs, dir, out.written.map(_ -> v).toMap)
      step("manifest")
    }

  /** Staged rebuild of an existing index: `write` stages its tables under
    * `__graft_tmp`; they are stamped, swapped live together and named in
    * the manifest (other manifest entries keep their versions). Staging
    * copies of every table are swept before, and after a failure. */
  def rebuild(spark: SparkSession, dir: String)(write: Out => Unit): Unit =
    WriterLease.withLease(spark, dir, job("rebuild")) {
      val fs = fsOf(spark, dir)
      StagedSwap.cleanupTmp(fs, dir, tables)
      var staged = false
      try {
        val out = new Out(dir, StagedSwap.TmpSuffix)
        write(out)
        val v = stampEach(fs, dir, out.written, StagedSwap.TmpSuffix)
        staged = true
        StagedSwap.swapAll(fs, dir, out.written)
        writeManifest(fs, dir, readManifest(fs, dir).getOrElse(Map.empty) ++
          out.written.map(_ -> v))
        step("manifest")
      } finally {
        if (!staged) StagedSwap.cleanupTmp(fs, dir, tables)
      }
    }

  /** Rewrite each of `which` with `compactTable(path)` and re-stamp it
    * with its manifest version: the compaction swap replaces the table
    * directory and so drops its stamp. */
  def compact(spark: SparkSession, dir: String, which: Seq[String] = tables)(
      compactTable: String => Unit): Unit =
    WriterLease.withLease(spark, dir, job("compact")) {
      val fs = fsOf(spark, dir)
      val man = readManifest(fs, dir).getOrElse(Map.empty[String, String])
      which.foreach { t =>
        compactTable(s"$dir/$t")
        step(s"compact $t")
        man.get(t).foreach { v =>
          SwapManifest.stampTables(fs, dir, Seq(t), v)
          step(s"stamp $t")
        }
      }
    }

  /** Adopt a pre-manifest artifact ([[SwapManifest.adopt]]): read its
    * params or fail loudly, run the index's content `check` on them, then
    * stamp every table and write the manifest. */
  def adopt(spark: SparkSession, dir: String)(check: Row => Unit): Unit = {
    check(params(spark, dir))
    SwapManifest.adopt(spark, dir, tables, kind)
  }

  /** The one-row `params` table, or a loud failure naming the index. */
  def params(spark: SparkSession, dir: String): Row =
    try spark.read.parquet(s"$dir/params").head()
    catch {
      case e: AnalysisException =>
        throw new IllegalStateException(
          s"no $kind at '$dir' — the params table is missing; run " +
            "build() first", e)
    }

  /** The read side: params, then the manifest/stamp agreement
    * ([[SwapManifest.verify]]) before any other table is read. */
  def open(spark: SparkSession, dir: String): Row = {
    val p = params(spark, dir)
    verify(spark, dir)
    p
  }

  def verify(spark: SparkSession, dir: String): Unit =
    SwapManifest.verify(spark, dir, kind)

  /** (manifest present, tables whose stamp disagrees with it) — the
    * manifest facts every healthCheck reports where [[open]] throws. */
  def staleTables(spark: SparkSession, dir: String): (Boolean, Seq[String]) =
    SwapManifest.staleTables(fsOf(spark, dir), dir)

  private def stampEach(fs: FileSystem, dir: String, ts: Seq[String],
      suffix: String): String = {
    val v = SwapManifest.newVersion()
    ts.foreach { t =>
      SwapManifest.stampTables(fs, dir, Seq(t), v, suffix)
      step(s"stamp $t")
    }
    v
  }
}

private[graft] object IndexLifecycle {

  /** Where a build writes: the live table directories, or the
    * `__graft_tmp` staging copies of a rebuild. Each finished table is a
    * protocol step, and the tables written are the ones stamped. */
  final class Out private[IndexLifecycle] (dir: String, suffix: String) {
    private[IndexLifecycle] var written = Vector.empty[String]

    /** This write's path for `table` (to read back a table written
      * earlier in the same build). */
    def path(table: String): String = s"$dir/$table$suffix"

    def write(table: String)(f: String => Unit): Unit = {
      f(path(table))
      written :+= table
      step(s"write $table")
    }

    def parquet(table: String, df: DataFrame): Unit =
      write(table)(df.write.mode("overwrite").parquet(_))
  }

  /** Test seam for crash and fault injection: receives the name of each
    * protocol step ("write t", "stamp t", "swap t", "swapped", "manifest",
    * "compact t") right after the step completes. */
  private[graft] val stepHook =
    new scala.util.DynamicVariable[String => Unit](_ => ())

  private[llm] def step(name: String): Unit = stepHook.value(name)

  /** FNV-1a over `fields`, each followed by `sep` — the content-signature
    * hash of the persisted indexes. Hand-rolled, not JVM `hashCode`, so
    * the value stored in an artifact is stable across JVM and Scala
    * versions. */
  def fnv1a(fields: Iterable[String], sep: Char = '\u001e'): Long = {
    var h = 0xcbf29ce484222325L
    fields.foreach { s =>
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      h ^= sep; h *= 0x100000001b3L
    }
    h
  }
}
