package graft.llm

import graft.pipeline.DirSwap
import graft.pipeline.DirSwap.step
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
 *  - [[rebuild]]: recover every table ([[DirSwap.recover]]), write and
 *    stamp the staged copies, [[DirSwap.swap]] them live, manifest last;
 *    a failure before the swap removes the staged copies and leaves the
 *    live version untouched;
 *  - [[compact]]: rewrite each table's files and re-stamp it from the
 *    manifest (layout changes, content and version do not);
 *  - [[adopt]]: bless a pre-manifest artifact after the index's own
 *    check list passes.
 *
 * The read side is owned here too. Each index declares its invariants
 * once, as a list of named [[IndexLifecycle.Check]]s over the params and
 * stored rows it read; every consumer reads that list: the load paths
 * throw on the first failed check ([[enforce]]), [[adopt]] runs it
 * before blessing, and `healthCheck` and [[IndexHealth]] report it with
 * the manifest, stale and healthy rows built by [[health]].
 *
 * `kind` names the index in errors ("BPE index"); its first word,
 * lower-cased, prefixes the lease job names ("bpe rebuild"). `tables` is
 * the index's table set: what [[adopt]] stamps, what a [[rebuild]]
 * recovers, and what [[compact]] rewrites by default.
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
      val out = new Out(dir, staged = false)
      write(out)
      val fs = fsOf(spark, dir)
      val v = stampEach(fs, out)
      writeManifest(fs, dir, out.written.map(_ -> v).toMap)
      step("manifest")
    }

  /** Staged rebuild of an existing index: `write` stages its tables; they
    * are stamped, swapped live together and named in the manifest (other
    * manifest entries keep their versions). Every table is recovered
    * before, and its staged copy dropped after a failure before the swap. */
  def rebuild(spark: SparkSession, dir: String)(write: Out => Unit): Unit =
    WriterLease.withLease(spark, dir, job("rebuild")) {
      val fs = fsOf(spark, dir)
      val all = tables.map(t => s"$dir/$t")
      all.foreach(DirSwap.recover(fs, _))
      val out = new Out(dir, staged = true)
      val v =
        try { write(out); stampEach(fs, out) }
        catch { case e: Throwable => all.foreach(DirSwap.recover(fs, _)); throw e }
      DirSwap.swap(fs, out.written.map(t => s"$dir/$t"))
      writeManifest(fs, dir, readManifest(fs, dir).getOrElse(Map.empty) ++
        out.written.map(_ -> v))
      step("manifest")
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

  /** Adopt a pre-manifest artifact ([[SwapManifest.adopt]]): throw on the
    * first failed check of `checks` (the index's own list, read without
    * the manifest gate), then stamp every table and write the manifest. */
  def adopt(spark: SparkSession, dir: String, checks: Seq[Check]): Unit = {
    failFirst(checks)
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

  /** The load paths' gate over what an index's `inspect` read: the
    * manifest/stamp agreement first ([[verify]], IllegalStateException),
    * then the first failed check (IllegalArgumentException naming it). */
  def enforce[S <: Inspected](spark: SparkSession, dir: String, s: S): S = {
    verify(spark, dir)
    failFirst(s.checks)
    s
  }

  /** (manifest present, tables whose stamp disagrees with it) — the
    * manifest facts every healthCheck reports where [[open]] throws. */
  def staleTables(spark: SparkSession, dir: String): (Boolean, Seq[String]) =
    SwapManifest.staleTables(fsOf(spark, dir), dir)

  /** The index's `own` checks followed by the rows every lifecycle
    * shares: `manifest` (present), `stale` (every table carries the
    * manifest's stamp; detail = how many do not) and `healthy`, the
    * conjunction of all of them, carrying the index's `detail`. */
  def health(spark: SparkSession, dir: String, own: Seq[Check],
      detail: Option[Long]): Health = {
    val (hasManifest, stale) = staleTables(spark, dir)
    val all = own ++ Seq(Check("manifest", hasManifest),
      Check("stale", stale.isEmpty, Some(stale.size.toLong)))
    Health(all :+ Check("healthy", all.forall(_.ok), detail), stale)
  }

  /** Stamp every table `out` wrote with one fresh version. */
  private def stampEach(fs: FileSystem, out: Out): String = {
    val v = SwapManifest.newVersion()
    out.written.foreach { t =>
      SwapManifest.stamp(fs, out.path(t), v)
      step(s"stamp $t")
    }
    v
  }
}

private[graft] object IndexLifecycle {

  /** One named invariant of a persisted index: `chk` names it in the
    * dashboard (and, with `_ok`, in healthCheck), `detail` is its
    * optional model-sized reading, and `why` is the message the load
    * paths throw when it fails. */
  final case class Check(chk: String, ok: Boolean,
      detail: Option[Long] = None, why: String = "")

  /** What an index's `inspect` read — its params and stored rows — with
    * the one check list over them. */
  trait Inspected { def checks: Seq[Check] }

  /** An index's checks as [[IndexLifecycle.health]] lists them, and the
    * tables whose stamp disagrees with the manifest (healthCheck's
    * `stale_tables`). */
  final case class Health(checks: Seq[Check], stale: Seq[String]) {
    def apply(chk: String): Boolean = checks.exists(c => c.chk == chk && c.ok)
  }

  /** Throw on the first failed check, naming it. */
  private def failFirst(checks: Seq[Check]): Unit =
    checks.find(!_.ok).foreach(c => throw new IllegalArgumentException(
      s"${c.why} (failed check: ${c.chk})"))

  /** The writer-lease row: ok = no LIVE lease (a quiescent index or a
    * stale/crashed holder — either way a new maintenance job could
    * acquire); detail = holder age in seconds when a lease file exists.
    * A false row means a writer is active RIGHT NOW — schedule-collision
    * visibility the after-the-fact stale/sig checks cannot give. */
  def lease(spark: SparkSession, dir: String): Check = {
    val l = WriterLease.status(spark, dir)
    Check("lease", !l.live, l.ageMs.map(_ / 1000))
  }

  /** Where a build writes: the live table directories, or the staged
    * copies ([[DirSwap.staged]]) of a rebuild. Each finished table is a
    * protocol step, and the tables written are the ones stamped. */
  final class Out private[IndexLifecycle] (dir: String, staged: Boolean) {
    private[IndexLifecycle] var written = Vector.empty[String]

    /** This write's path for `table` (to read back a table written
      * earlier in the same build). */
    def path(table: String): String =
      if (staged) DirSwap.staged(s"$dir/$table") else s"$dir/$table"

    def write(table: String)(f: String => Unit): Unit = {
      f(path(table))
      written :+= table
      step(s"write $table")
    }

    def parquet(table: String, df: DataFrame): Unit =
      write(table)(df.write.mode("overwrite").parquet(_))
  }

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
