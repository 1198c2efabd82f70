package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IndexLifecycle.{Check, Health}

/**
 * Persisted dedup index lifecycle — the production form of
 * [[DedupOps.incrementalDedup]], mirroring [[IvfIndex]]'s
 * build/probe/append shape: the curated corpus's dedup-relevant derived
 * tables are computed ONCE at build time and stored as parquet longs, so
 * each incoming batch is deduplicated WITHOUT re-reading, re-tokenizing
 * or re-hashing a single corpus document.
 *
 * Layout under `dir` (all columnar longs — a few dozen bytes per corpus
 * doc, vs re-scanning its text on every append):
 *  - `fingerprints` (doc_id, f1, f2) — dual-hash exact identity;
 *  - `bands` (doc_id, band, key)    — MinHash-LSH bucket keys;
 *  - `shingles` (doc_id, h)         — the verification inverted index;
 *  - `sizes` (doc_id, sz)           — shingle-set sizes for Jaccard;
 *  - `ids` (doc_id)                 — every indexed doc (null-text rows
 *    included): the at-least-once replay guard;
 *  - `params`                       — one row (n, perms, bands,
 *    rowsPerBand): probe derives the geometry from the INDEX, never from
 *    the caller — a repeated-but-wrong parameter would silently band the
 *    batch against incompatible keys.
 *
 * [[probe]] answers "which of these rows would survive an append" with
 * NO mutation (idempotent — the registry's q106 entry); [[append]]
 * commits: the kept rows' derived tables land in the index, so the NEXT
 * batch dedups against corpus + everything appended so far. A clone of
 * an appended doc is dropped by the exact stage; a near-dup of one by
 * the banded stage (both spec-pinned).
 *
 * Scale: probe cost is O(batch) compute + equi-joins against the stored
 * long tables (band buckets, candidate shingles, candidate sizes — all
 * pruned to matching keys); measured at a 55k-doc corpus, its appended
 * set is IDENTICAL to re-running the full production stack on
 * corpus ∪ batch, which re-pays the entire corpus's shingling + banding
 * every time.
 */
object DedupIndex {

  /** `src` tag of rows written at build time (appends use their own
    * non-negative batch id; see [[ingestBatch]]'s replay contract). */
  val BuildSrc = -1L

  /** Build the index from an already-curated corpus (the output of
    * [[DedupOps.exactThenNearDedup]] or prior appends). */
  def build(corpus: DataFrame, dir: String, n: Int = 3, perms: Int = 32,
      bands: Int = 8, rowsPerBand: Int = 4): Unit = {
    require(bands * rowsPerBand == perms, "bands*rowsPerBand must equal perms")
    val spark = corpus.sparkSession
    import spark.implicits._
    // Appends/commits write mode("append") — stamps survive, and a torn
    // APPEND stays governed by the conservative write-order contract
    // below, not the manifest.
    lifecycle.build(spark, dir) { out =>
      writeTables(corpus, n, perms, bands, rowsPerBand, src = BuildSrc)(
        out.parquet)
      out.parquet("params", Seq((n, perms, bands, rowsPerBand))
        .toDF("n", "perms", "bands", "rows_per_band"))
    }
  }

  /**
   * The five derived tables of one doc frame. One shared tokenize+hash
   * pass (withShingleHashes + persist) feeds all writes — bands,
   * shingles and sizes would otherwise each re-shingle the text in
   * their own independent write job.
   *
   * WRITE ORDER IS THE CRASH CONTRACT. The five appends are not one
   * atomic commit (that needs a transactional table format); the order
   * makes a torn commit CONSERVATIVE instead of lossy: the two tables
   * that suppress a replay — `fingerprints` (exact stage) and `ids`
   * (doc_id replay guard) — are written LAST. A crash before them
   * leaves only bands/shingles/sizes rows, which cannot drop a replayed
   * doc (its own doc_id never self-pairs); the replay re-keeps and
   * re-commits it, at worst duplicating index rows — which only
   * INFLATES intersection counts (over-dropping future near-dups of
   * that doc), never silently losing a batch that was kept but not yet
   * landed. Were fingerprints written first, a crash right after them
   * would make the retry drop the entire batch as exact dups of
   * itself — rows gone without ever being landed anywhere.
   */
  private def writeTables(docs: DataFrame, n: Int, perms: Int, bands: Int,
      rowsPerBand: Int, src: Long)(write: (String, DataFrame) => Unit): Unit = {
    val tagged = (df: DataFrame) => df.withColumn("src", lit(src))
    val prepped = DedupOps.withShingleHashes(
      docs.select(col("doc_id"), col("text")), n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      write("bands", tagged(DedupOps.bandedKeys(prepped, n, perms, bands,
        rowsPerBand)))
      write("shingles", tagged(DedupOps.shingleIndex(prepped, n)))
      write("sizes", tagged(DedupOps.setSizes(prepped, n)))
      write("fingerprints", tagged(DedupOps.dualFingerprints(prepped)))
      write("ids", tagged(prepped.select("doc_id")))
    } finally prepped.unpersist(false)
  }

  /** Stored geometry (n, perms, bands, rowsPerBand). Stamp agreement is
    * checked BEFORE the probe reads any table: a torn multi-table BUILD
    * (not append — appends never change versions) fails loudly here
    * instead of answering from a mixed artifact. */
  private def params(spark: SparkSession, dir: String): (Int, Int, Int, Int) = {
    val row = lifecycle.open(spark, dir)
    (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3))
  }

  /** The incoming rows an [[append]] would keep — NO index mutation.
    * An incoming doc_id already in the index is dropped OUTRIGHT before
    * content is even hashed: that is the at-least-once replay guard, and
    * the only guard that covers null-text rows (they have no fingerprint
    * to match, so without it every replay would re-keep and re-land
    * them — duplicate doc_ids in the corpus). */
  def probe(incoming: DataFrame, dir: String, threshold: Double = 0.5,
      excludeSrc: Option[Long] = None): DataFrame = {
    val spark = incoming.sparkSession
    val (n, perms, bands, rowsPerBand) = params(spark, dir)
    // excludeSrc drops THIS batch's own prior index rows from every
    // table before any join — the replay determinism [[ingestBatch]]
    // rests on (a replayed batch must not exact-match its own earlier
    // commit, which would probe to empty and erase its landed output).
    def tbl(name: String): DataFrame = {
      val t = spark.read.parquet(s"$dir/$name")
      excludeSrc.fold(t)(s => t.filter(col("src") =!= s)).drop("src")
    }
    val unseen = incoming.join(tbl("ids"), Seq("doc_id"), "left_anti")
    val fps = tbl("fingerprints")
    DedupOps.incrementalKeep(
      DedupOps.exactSurvivors(fps.select("f1", "f2"), unseen),
      existingIds = fps.select("doc_id"),
      exBands = tbl("bands"),
      exIndex = tbl("shingles"),
      exSizes = tbl("sizes"),
      n, perms, bands, rowsPerBand, threshold)
  }

  /**
   * Commit ALREADY-LANDED kept rows to the index: their derived tables
   * (and the ids replay guard) are appended, so the next probe dedups
   * against them.
   *
   * LAND-BEFORE-COMMIT is the crash protocol — the production call
   * sequence is
   *   1. `kept = probe(batch, dir)`      (no mutation)
   *   2. caller LANDS `kept` durably     (idempotently — per-batch
   *      overwrite, [[graft.streaming.IdempotentSink]]'s shape)
   *   3. `commit(kept, dir)`             (replay guard arms LAST)
   * A crash between 2 and 3 replays as: probe re-keeps the same rows
   * (their ids never armed), the idempotent land overwrites them in
   * place, commit completes — nothing lost, nothing doubled. The
   * PREVIOUS api (append committing before the caller landed) inverted
   * the window: a crash after its commit dropped the batch on replay as
   * "already indexed" — kept rows silently never landed anywhere.
   *
   * Idempotent: rows whose doc_id is already in the ids guard are
   * skipped, so a crashed-and-retried land→commit pair never
   * double-indexes (a commit torn MID-write still degrades conservative,
   * never lossy — see [[writeTables]]'s ordering contract).
   */
  def commit(kept: DataFrame, dir: String, src: Long = BuildSrc): Unit =
    // the lease rides on COMMIT (not append/ingestBatch, which call it):
    // every mutating path funnels here, and wrapping the funnel keeps
    // the lease non-reentrant callers deadlock-free
    WriterLease.withLease(kept.sparkSession, dir, "dedup commit") {
    val spark = kept.sparkSession
    val (n, perms, bands, rowsPerBand) = params(spark, dir)
    // localCheckpoint CUTS the lineage before the writes: a lazy frame
    // re-evaluated mid-commit would read the half-mutated index.
    val fresh = kept.join(spark.read.parquet(s"$dir/ids"),
      Seq("doc_id"), "left_anti").localCheckpoint(true)
    if (!fresh.isEmpty)
      writeTables(fresh, n, perms, bands, rowsPerBand, src)((t, df) =>
        df.write.mode("append").parquet(s"$dir/$t"))
    }

  /** The five index tables, in [[writeTables]]'s crash-contract order. */
  private val tables =
    Seq("bands", "shingles", "sizes", "fingerprints", "ids")

  private val lifecycle = new IndexLifecycle("dedup index", tables :+ "params")

  /**
   * Adopt a PRE-MANIFEST dedup index: stamp all six tables and write the
   * manifest WITHOUT rebuilding — the migration path for artifacts
   * written before the serve/append paths required a manifest (they now
   * refuse those with "has no swap manifest"). Pre-checks the stored
   * params geometry; [[SwapManifest.adopt]] itself refuses when a
   * manifest already exists or a table directory is missing. Adoption
   * blesses the CURRENT table set as the consistent version — run
   * [[healthCheck]] and review its profile columns first on any
   * artifact you don't trust.
   */
  def adoptManifest(spark: SparkSession, dir: String): Unit = {
    // Named access (not positional): a params schema reorder must fail
    // loudly here, not validate the wrong columns and adopt a torn index.
    val row = lifecycle.params(spark, dir)
    lifecycle.adopt(spark, dir, Seq(Check("geometry",
      row.getAs[Int]("bands") * row.getAs[Int]("rows_per_band") ==
        row.getAs[Int]("perms"),
      why = s"adopt: dedup index at '$dir' has inconsistent params " +
        "(bands*rows_per_band != perms) — rebuild instead of adopting")))
  }

  /**
   * Small-file compaction: every append lands one file set per table,
   * so a year of daily appends turns each probe's equi-joins into
   * hundreds of footer reads and tiny scan tasks — the file COUNT, not
   * the bytes, becomes the cost. Rewrites each table to `targetFiles`
   * files via [[graft.pipeline.Maintenance.compactDir]]'s staged swap
   * (readers racing the swap see old or new, never a mix). Row
   * content — and therefore every probe answer — is unchanged. Run it
   * like any table maintenance job: on a schedule, not in the append
   * path.
   */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1): Unit =
    lifecycle.compact(spark, dir, tables)(
      graft.pipeline.Maintenance.compactDir(spark, _, targetFiles))

  /** [[IndexHealth]]'s rows for this lifecycle: `docs_indexed` (detail:
    * the ids count), `bands` (detail: how many LSH bands hold keys — one
    * [[healthCheck]] row each), then the shared manifest, stale and
    * healthy rows. */
  private[llm] def health(spark: SparkSession, dir: String): Health = {
    val docs = spark.read.parquet(s"$dir/ids").count()
    val bands = spark.read.parquet(s"$dir/bands").select("band").distinct()
      .count()
    lifecycle.health(spark, dir, Seq(Check("docs_indexed", docs > 0,
      Some(docs)), Check("bands", bands > 0, Some(bands))), Some(docs))
  }

  /**
   * Index health — the dedup analog of [[IvfIndex.rebalanceCheck]]: one
   * row per LSH band with its bucket-occupancy profile
   * (`n_buckets`, `max_bucket`, `mean_bucket`, `skew` = max/mean), plus
   * the global `docs_indexed` and `data_files` (small-file pressure
   * across all five tables — the [[compact]] trigger; the append count
   * since build is bounded below by `data_files / 5`). A hot bucket
   * (skew ≫ 1) means many indexed docs share a band key, so every probe
   * hitting it pays a quadratic candidate fan-out — the signal to
   * rebuild with more bands/rows or to investigate a clone-heavy
   * corpus. Reads only the long tables (band keys + ids), never text.
   *
   * An EMPTY index reports NULL mean/skew rather than 0/0's NaN, for
   * the same alerting-rule reason as rebalanceCheck.
   */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    val (hasManifest, stale) = lifecycle.staleTables(spark, dir)
    val nDocs = spark.read.parquet(s"$dir/ids").count()
    val nFiles = tables.map(t =>
      graft.pipeline.Maintenance.dataFiles(spark, s"$dir/$t").size).sum
    val buckets = spark.read.parquet(s"$dir/bands")
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("occ"))
    val guarded = when(col("mean_bucket") > 0, col("mean_bucket"))
    buckets.groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("occ")).as("max_bucket"),
        avg(col("occ")).as("mean_bucket"))
      .select(col("band"),
        col("n_buckets"),
        col("max_bucket"),
        TextFunctions.fround(col("mean_bucket"), 4).as("mean_bucket"),
        TextFunctions.fround(
          col("max_bucket").cast("double") / guarded, 4).as("skew"),
        lit(nDocs).as("docs_indexed"),
        lit(nFiles.toLong).as("data_files"),
        lit(hasManifest).as("has_manifest"),
        lit(stale.mkString(",")).as("stale_tables"))
      .orderBy(col("band"))
  }

  /**
   * One micro-batch of the streaming ingest protocol: probe → land
   * ([[graft.streaming.IdempotentSink.landBatch]]'s per-batch overwrite)
   * → commit, with the index rows this batch commits tagged `src =
   * batchId`. This is the reference's at-least-once "handle duplicates
   * downstream" contract (README "Important Notice") upgraded to
   * exactly-once INTO the landed table:
   *
   * Structured Streaming replays a failed batch under the SAME batchId
   * with the same source offsets, so every crash window replays clean:
   *  - before land: nothing observable happened;
   *  - after land, before commit: the probe re-answers identically (its
   *    own src rows aren't in the index yet), the overwrite replaces the
   *    batch directory with the same rows, commit completes;
   *  - after commit: the probe EXCLUDES this batch's own src rows —
   *    without that exclusion the replay would exact-match its own
   *    earlier commit, probe to empty, and the idempotent overwrite
   *    would ERASE the landed batch — so it re-answers identically, the
   *    overwrite is a no-op rewrite, and commit's ids guard skips every
   *    row (no duplicate index rows).
   * Exposed (curried) so the replay spec can drive the same function
   * twice with one batchId.
   */
  def ingestBatch(dir: String, landDir: String, threshold: Double = 0.5)(
      batch: DataFrame, batchId: Long): Unit = {
    val kept = probe(batch, dir, threshold, excludeSrc = Some(batchId))
      .localCheckpoint(true)
    graft.streaming.IdempotentSink.landBatch(kept, landDir, batchId)
    commit(kept, dir, src = batchId)
  }

  /** The checkpointed stream → probe → land → commit pipeline:
    * [[ingestBatch]] under foreachBatch. The landed table accretes
    * `batch=<id>` partitions of deduplicated rows; the index accretes
    * their derived tables ([[compact]] folds both kinds of debris). */
  def ingestStream(stream: DataFrame, dir: String, landDir: String,
      checkpoint: String, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) =>
        ingestBatch(dir, landDir, threshold)(df, id))
      .start()

  /** [[probe]] + [[commit]] in one call — the convenience path for
    * callers whose landing step is transactional with the index (tests,
    * notebooks). Production pipelines that land kept rows in a SEPARATE
    * store must use the explicit probe → land → commit sequence instead:
    * this wrapper arms the replay guard BEFORE the caller sees the kept
    * rows, so a crash between return and landing drops the batch on
    * replay. */
  def append(incoming: DataFrame, dir: String,
      threshold: Double = 0.5): DataFrame = {
    // localCheckpoint for the same reason as commit's: a lazy `kept`
    // re-evaluated after the index writes would probe against the
    // now-mutated index (every row its own exact dup ⇒ silently empty).
    val kept = probe(incoming, dir, threshold).localCheckpoint(true)
    commit(kept, dir)
    kept
  }
}
