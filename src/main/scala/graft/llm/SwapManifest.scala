package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Per-table version stamps + a last-written manifest — the torn-swap
 * DETECTION layer of the persisted index lifecycles, written by
 * [[IndexLifecycle]]. [[StagedSwap]] makes a mid-flight crash
 * RECOVERABLE (every table stays on some complete version); this makes
 * it DETECTABLE: each build/rebuild stamps every table directory with a
 * version file (underscore-prefixed — Spark's file index ignores it)
 * and writes the one-line-per-table manifest LAST, after every rename.
 * Serving paths call [[verify]] and refuse a table set whose stamps
 * disagree with the manifest, so a torn swap fails loudly at the first
 * read instead of silently serving mixed versions. Cost per serve CALL
 * (not per row): one manifest read + one stamp read per table — a few
 * filesystem metadata ops.
 */
object SwapManifest {

  val ManifestName = "_graft_manifest"
  val VersionName = "_graft_version"

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeSmall(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private[llm] def readSmall(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bos.toByteArray, "UTF-8"))
      } finally in.close()
    }

  def newVersion(): String = java.util.UUID.randomUUID().toString

  /** Stamp each `<dir>/<table><suffix>` with `version` (suffix =
    * [[StagedSwap]]'s "__graft_tmp" stamps staged copies pre-swap). */
  def stampTables(fs: FileSystem, dir: String, tables: Seq[String],
      version: String, suffix: String = ""): Unit =
    tables.foreach(t =>
      writeSmall(fs, new Path(s"$dir/$t$suffix/$VersionName"), version))

  def readManifest(fs: FileSystem,
      dir: String): Option[Map[String, String]] =
    readSmall(fs, new Path(s"$dir/$ManifestName")).map(
      _.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap)

  def writeManifest(fs: FileSystem, dir: String,
      entries: Map[String, String]): Unit =
    writeSmall(fs, new Path(s"$dir/$ManifestName"),
      entries.toSeq.sortBy(_._1).map { case (t, v) => s"$t=$v" }
        .mkString("\n"))

  /** Manifest-vs-stamps agreement: (manifest present, tables whose stamp
    * disagrees with it) — the raw facts [[verify]] throws on and the
    * healthChecks report. */
  def staleTables(fs: FileSystem,
      dir: String): (Boolean, Seq[String]) =
    readManifest(fs, dir) match {
      case None => (false, Nil)
      case Some(man) =>
        (true, man.filter { case (t, v) =>
          !readSmall(fs, new Path(s"$dir/$t/$VersionName")).contains(v)
        }.keys.toSeq.sorted)
    }

  /**
   * ONE-SHOT ADOPTION of a PRE-MANIFEST index. Requiring a manifest on
   * every serve/append path (the r18 hardening) is a hard refusal for
   * artifacts written before the manifest layout existed — this is the
   * migration path that doesn't force a full rebuild: stamp every
   * listed table with one fresh version and write the manifest, data
   * untouched.
   *
   * Adoption records "this exact table set is the blessed version" and
   * NOTHING more — it cannot tell a clean pre-manifest artifact from a
   * torn one, so the operator must verify consistency first (each index
   * exposes the checks: `healthCheck` content columns, `load`'s
   * signature/cost validation). The per-index `adoptManifest` wrappers
   * run their cheap structural checks before calling this.
   *
   * Refuses loudly if a manifest ALREADY exists (then [[verify]] /
   * rebuild are the right tools — re-blessing a torn swap would mask
   * exactly what the manifest exists to catch) and if any listed table
   * directory is missing (nothing to adopt; rebuild).
   */
  def adopt(spark: SparkSession, dir: String, tables: Seq[String],
      what: String): Unit = {
    val fs = fsOf(spark, dir)
    require(readManifest(fs, dir).isEmpty,
      s"adopt: $what at '$dir' already has a swap manifest — adoption is " +
        "only for pre-manifest artifacts; run verify (or rebuild) instead")
    val missing = tables.filterNot(t => fs.exists(new Path(s"$dir/$t")))
    require(missing.isEmpty,
      s"adopt: $what at '$dir' is missing table(s) " +
        s"${missing.mkString(", ")} — nothing to adopt; rebuild the index")
    val v = newVersion()
    stampTables(fs, dir, tables, v)
    writeManifest(fs, dir, tables.map(_ -> v).toMap)
  }

  /** Loud version check for the serving paths: the manifest must exist
    * and every table it lists must carry the matching stamp. `what`
    * names the index kind in the error ("IVF index", "BPE index"). */
  def verify(spark: SparkSession, dir: String, what: String): Unit = {
    val fs = fsOf(spark, dir)
    val man = readManifest(fs, dir).getOrElse(throw new IllegalStateException(
      s"$what at '$dir' has no swap manifest — it predates the " +
        "manifest layout or the build died before the manifest write; " +
        "rebuild the index"))
    man.foreach { case (t, v) =>
      val got = readSmall(fs, new Path(s"$dir/$t/$VersionName"))
      if (!got.contains(v))
        throw new IllegalStateException(
          s"$what at '$dir' failed its version check: table '$t' is " +
            s"at ${got.getOrElse("<unstamped>")} but the manifest expects " +
            s"$v — torn swap; rebuild the index")
    }
  }
}
