package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IndexLifecycle.{Check, Health}

/**
 * Persisted decontamination index — the third index lifecycle beside
 * [[DedupIndex]] (near-dup) and [[IvfIndex]] (ANN): benchmark/eval
 * suites change rarely but are probed by EVERY ingest batch, so their
 * derived artifacts are computed once and stored as parquet longs:
 *
 *  - `fingerprints` (fp) — distinct normalized whole-text hashes, the
 *    exact verbatim-copy gate ([[TextAnalysis.decontaminated]]'s
 *    benchmark side);
 *  - `grams` (gh)        — distinct n-gram hashes, the fuzzy
 *    partial-quote gate ([[TextAnalysis.contaminationOverlap]]'s
 *    benchmark side);
 *  - `prints` (fp)       — distinct winnow fingerprint values, the
 *    LOCAL-match embedded-passage gate ([[DedupOps
 *    .winnowDecontaminate]]'s benchmark side) — the leak mode the other
 *    two provably miss (a benchmark passage QUOTED inside an
 *    otherwise-novel document);
 *  - `params`            — one row (n, wn, ww, wtok): probe geometry
 *    derives from the INDEX, never the caller (a wrong repeated n would
 *    silently gram the corpus against incompatible hashes, a wrong
 *    tokenizer would winnow a normalized benchmark against raw corpus
 *    prints — [[DedupIndex]]'s rule).
 *
 * [[probe]]/[[probeFuzzy]] are pure reads; [[append]] accretes NEW
 * benchmark items idempotently (only values absent from the stored
 * tables land, so an at-least-once replay appends nothing — and the
 * tables stay distinct-by-construction, which the probes rely on for
 * their counts). A 100 TB corpus never ships anywhere: both probes read
 * a few-MB long table (AQE broadcasts it) against a scan of the corpus.
 */
object DeconIndex {

  private def benchFps(benchmark: DataFrame): DataFrame =
    benchmark.select(TextAnalysis.normFp(col("text")).as("fp"))
      .filter(col("fp").isNotNull).distinct()

  private def benchPrints(benchmark: DataFrame, wn: Int, ww: Int,
      wtok: DedupOps.Tokenizer): DataFrame =
    DedupOps.winnowFingerprints(benchmark, wn, ww, wtok)
      .select(col("fp")).distinct()

  def build(benchmark: DataFrame, dir: String, n: Int = 5, wn: Int = 3,
      ww: Int = 4,
      wtok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): Unit = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    // [[append]] writes mode("append") — stamps survive, and a torn
    // APPEND stays governed by the conservative write-order contract,
    // not the manifest (appends never change versions).
    lifecycle.build(spark, dir) { out =>
      out.parquet("fingerprints", benchFps(benchmark))
      out.parquet("grams", TextAnalysis.benchGrams(benchmark, n))
      out.parquet("prints", benchPrints(benchmark, wn, ww, wtok))
      out.parquet("params", Seq((n, wn, ww, wtok.name))
        .toDF("n", "wn", "ww", "wtok"))
    }
  }

  private val lifecycle = new IndexLifecycle("decon index",
    Seq("fingerprints", "grams", "prints", "params"))

  /** Adopt a PRE-MANIFEST decon index (stamp + manifest, no rebuild) —
    * [[DedupIndex.adoptManifest]]'s contract for the decontamination
    * lifecycle. Its check list is the stored gram width; refuses via
    * [[SwapManifest.adopt]] if a manifest already exists or any of the
    * four tables is missing. */
  def adoptManifest(spark: SparkSession, dir: String): Unit =
    lifecycle.adopt(spark, dir, Seq(Check("n", gramN(spark, dir) > 0,
      why = s"adopt: decon index at '$dir' stores a non-positive gram " +
        "width — rebuild instead of adopting")))

  private def gramN(spark: SparkSession, dir: String): Int =
    lifecycle.params(spark, dir).getInt(0)

  /** Stored winnow geometry: (wn, ww, tokenizer). Unknown tokenizer
    * names fail loudly — a probe under the wrong surface is silent
    * under-detection, the exact failure the stored params exist to
    * prevent. */
  private def winnowParams(spark: SparkSession,
      dir: String): (Int, Int, DedupOps.Tokenizer) = {
    val r = lifecycle.params(spark, dir)
    val tok = DedupOps.Tokenizer.stored(r, "wtok", "decon index", dir,
      "predates the winnow layout (params has no winnow geometry) — " +
        "rebuild() the index before using the winnow probe, append or " +
        "healthCheck")
    // Read by field NAME, like the name-based guard above implies — an
    // ordinal read would silently return the wrong winnow geometry if
    // the params schema is ever reordered or widened.
    (r.getAs[Int]("wn"), r.getAs[Int]("ww"), tok)
  }

  /** Accrete NEW benchmark items — idempotent: only fingerprints/grams/
    * prints absent from the stored tables land, so replays append nothing and
    * the tables stay distinct (the checkpoint cuts lineage before the
    * append, [[DedupIndex.commit]]'s reasoning).
    *
    * SINGLE WRITER per index: distinct-by-construction holds because
    * each append anti-joins the PRE-write snapshot — two concurrent
    * appends with overlapping items would both see the values as absent
    * and double-insert them, and duplicate `gh` rows fan out
    * [[overlap]]'s left join (inflated n_grams/n_hit). Benchmark suites
    * change rarely and through one curation process; serialize appends
    * there (the same contract as [[IvfIndex.append]]). */
  def append(benchmark: DataFrame, dir: String): Unit =
    WriterLease.withLease(benchmark.sparkSession, dir, "decon append") {
    val spark = benchmark.sparkSession
    lifecycle.verify(spark, dir)
    val n = gramN(spark, dir)
    // validate the winnow layout BEFORE the first write — a pre-winnow
    // index must fail here with the rebuild message, not after the
    // fingerprint/gram appends are already durable
    val (wn, ww, wtok) = winnowParams(spark, dir)
    val newFps = benchFps(benchmark)
      .join(spark.read.parquet(s"$dir/fingerprints"), Seq("fp"), "left_anti")
      .localCheckpoint(true)
    if (!newFps.isEmpty)
      newFps.write.mode("append").parquet(s"$dir/fingerprints")
    val newGrams = TextAnalysis.benchGrams(benchmark, n)
      .join(spark.read.parquet(s"$dir/grams"), Seq("gh"), "left_anti")
      .localCheckpoint(true)
    if (!newGrams.isEmpty)
      newGrams.write.mode("append").parquet(s"$dir/grams")
    val newPrints = benchPrints(benchmark, wn, ww, wtok)
      .join(spark.read.parquet(s"$dir/prints"), Seq("fp"), "left_anti")
      .localCheckpoint(true)
    if (!newPrints.isEmpty)
      newPrints.write.mode("append").parquet(s"$dir/prints")
    }

  /** Exact decontamination against the stored fingerprints — row-identical
    * to [[TextAnalysis.decontaminated]] over the indexed benchmark (null
    * text never matches: its fingerprint is null, the anti-join keeps it). */
  def probe(corpus: DataFrame, dir: String): DataFrame = {
    lifecycle.verify(corpus.sparkSession, dir)
    val fps = corpus.sparkSession.read.parquet(s"$dir/fingerprints")
    corpus.join(fps, TextAnalysis.normFp(col("text")) === col("fp"), "left_anti")
  }

  /** Graded n-gram overlap against the stored gram table — identical to
    * [[TextAnalysis.contaminationOverlap]] over the indexed benchmark;
    * `n` comes from the stored params. */
  def overlap(corpus: DataFrame, dir: String): DataFrame = {
    val (n, grams) = storedGrams(corpus.sparkSession, dir)
    TextAnalysis.overlapAgainst(corpus, grams, n)
  }

  /** Fuzzy decontamination through the index — [[TextAnalysis
    * .fuzzyDecontaminated]]'s gate over [[overlap]]'s stored-gram scores. */
  def probeFuzzy(corpus: DataFrame, dir: String,
      maxOverlap: Double = 0.5): DataFrame = {
    val (n, grams) = storedGrams(corpus.sparkSession, dir)
    TextAnalysis.fuzzyAgainst(corpus, grams, n, maxOverlap)
  }

  /** The verified index's stored gram width `n` and its gram table. */
  private def storedGrams(spark: SparkSession, dir: String): (Int, DataFrame) = {
    lifecycle.verify(spark, dir)
    (gramN(spark, dir), spark.read.parquet(s"$dir/grams"))
  }

  /** Winnowing decontamination against the stored print set —
    * row-identical to [[DedupOps.winnowDecontaminate]] over the indexed
    * benchmark under the STORED (wn, ww, tokenizer) geometry: per corpus
    * doc, the count of distinct winnow print values shared with the
    * benchmark and the keep flag. The corpus side is one scan-stage
    * winnow selection + one broadcast join + one doc-keyed count; the
    * stored prints are a few-MB long table. */
  def probeWinnow(corpus: DataFrame, dir: String,
      minShared: Long = 2L): DataFrame = {
    val spark = corpus.sparkSession
    lifecycle.verify(spark, dir)
    val (wn, ww, wtok) = winnowParams(spark, dir)
    DedupOps.winnowProbe(corpus, spark.read.parquet(s"$dir/prints"),
      wn, ww, minShared, wtok)
  }

  /** STREAM-SAFE winnow gate — [[probeWinnow]]'s verdict re-expressed so
    * an ingest stream can run it: the batch probe's explode → broadcast
    * join → per-doc aggregate → join-back is a stream-stream join in
    * Structured Streaming's eyes, so here the stored print set rides
    * ONE static broadcast row (collect_set — the same few-MB long table
    * the batch probe broadcasts) and `n_shared` is the pure per-row
    * expression |doc print values ∩ benchmark set| ([[DedupOps
    * .winnowPrintValues]]). No aggregate, no join-back — the
    * gopherFilter reasoning — so it composes in append mode in front of
    * any landing sink, closing the gap where ingest-time scrubbing
    * caught exact and fuzzy leaks ([[probe]]'s anti-join) but an
    * EMBEDDED benchmark passage sailed through to the corpus. Verdict ≡
    * the batch gate row-for-row on the same corpus (spec-pinned batch ≡
    * replayed MemoryStream). Output: the corpus row + (n_shared, kept).
    *
    * LOAD-ONCE: verify the manifest, read the params and fold the
    * stored print set into its 1-row broadcast frame EXACTLY once,
    * materialized via localCheckpoint — every micro-batch then pays one
    * tiny re-broadcast instead of a manifest verify + params read + a
    * prints scan-and-aggregate. The index is frozen for the returned
    * function's lifetime (writer lease + single-writer foreachBatch), so
    * several actions on one result all probe one version. */
  def winnowProber(spark: SparkSession, dir: String,
      minShared: Long = 2L): DataFrame => DataFrame = {
    lifecycle.verify(spark, dir)
    val (wn, ww, wtok) = winnowParams(spark, dir)
    val bset = spark.read.parquet(s"$dir/prints")
      .agg(collect_set(col("fp")).as("bench_fps"))
      .localCheckpoint(true)
    corpus => corpus.crossJoin(broadcast(bset))
      .withColumn("n_shared",
        size(array_intersect(
          DedupOps.winnowPrintValues(col("text"), wn, ww, wtok),
          col("bench_fps"))).cast("long"))
      .withColumn("kept", col("n_shared") < minShared)
      .drop("bench_fps")
  }

  /**
   * Rewrite each stored table to `targetFiles` files — [[DedupIndex
   * .compact]]'s parity for this lifecycle: every [[append]] lands at
   * least one new parquet file per touched table, and after enough
   * benchmark revisions the probes' few-MB reads pay more in file
   * opens than bytes. [[graft.pipeline.Maintenance.compactDir]]'s
   * staged swap keeps racing readers on old-or-new, never a
   * mix; row content — and therefore every probe answer — is
   * unchanged. Scheduled-job maintenance, never the append path.
   */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1): Unit =
    lifecycle.compact(spark, dir)(
      graft.pipeline.Maintenance.compactDir(spark, _, targetFiles))

  /** [[IndexHealth]]'s rows for this lifecycle: the shared manifest,
    * stale and healthy rows. It has no content checks — its duplicate-row
    * counts are profile readings [[healthCheck]] reports. Throws on an
    * absent index (params missing), like [[healthCheck]]. */
  private[llm] def health(spark: SparkSession, dir: String): Health = {
    gramN(spark, dir)
    lifecycle.health(spark, dir, Nil, None)
  }

  /**
   * Operational health report — [[DedupIndex.healthCheck]]'s parity for
   * this lifecycle: the cheap check a scheduled job runs WITHOUT probing
   * a corpus. One row over the index's own small tables (longs only,
   * a few MB; the corpus is never touched):
   *
   *  - `n` + row counts — is the artifact present and plausibly sized
   *    for its benchmark suite;
   *  - `fp_dup_rows` / `gram_dup_rows` — distinct-by-construction
   *    VIOLATIONS. Both probes rely on the stored tables being distinct
   *    ([[overlap]]'s left join fans out per duplicate `gh`, inflating
   *    n_hit); a nonzero count is the fingerprint of two interleaved
   *    [[append]]s (the documented single-writer breach) and means
   *    rebuild — this is exactly the corruption the probes themselves
   *    cannot see (they'd just return wrong numbers);
   *  - `data_files` — small-file pressure from many appends, the
   *    compaction trigger.
   *
   * Throws on an absent index (params missing), like every loader here:
   * an unbuilt index is a config error, not a health state. */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    val n = gramN(spark, dir)
    val nFiles = lifecycle.tables.map(t =>
      graft.pipeline.Maintenance.dataFiles(spark, s"$dir/$t").size).sum
    val fps = spark.read.parquet(s"$dir/fingerprints")
      .agg(count(lit(1)).as("n_fingerprints"),
        count_distinct(col("fp")).as("fp_distinct"))
    val gs = spark.read.parquet(s"$dir/grams")
      .agg(count(lit(1)).as("n_grams"),
        count_distinct(col("gh")).as("gram_distinct"))
    val ps = spark.read.parquet(s"$dir/prints")
      .agg(count(lit(1)).as("n_prints"),
        count_distinct(col("fp")).as("print_distinct"))
    val (hasManifest, stale) = lifecycle.staleTables(spark, dir)
    fps.crossJoin(gs).crossJoin(ps).select(
      lit(n).as("n"),
      col("n_fingerprints"),
      (col("n_fingerprints") - col("fp_distinct")).as("fp_dup_rows"),
      col("n_grams"),
      (col("n_grams") - col("gram_distinct")).as("gram_dup_rows"),
      col("n_prints"),
      (col("n_prints") - col("print_distinct")).as("print_dup_rows"),
      lit(nFiles.toLong).as("data_files"),
      lit(hasManifest).as("has_manifest"),
      lit(stale.mkString(",")).as("stale_tables"))
  }
}
