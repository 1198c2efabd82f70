package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted DSIR selection model — the fifth index lifecycle beside
 * [[DedupIndex]] (near-dup), [[IvfIndex]] (ANN), [[DeconIndex]]
 * (benchmark gates) and [[BpeIndex]] (vocabulary). DSIR's "model" is the
 * pair of hashed-bigram bin-count tables ([[Retrieval.dsirScores]]'s
 * target and raw histograms): production trains it ONCE on a curated
 * in-domain target plus a raw-pool snapshot, then scores every incoming
 * crawl batch against the SAME stored distributions — retraining the
 * raw histogram per batch would let the selection threshold drift with
 * whatever junk the batch happens to contain. The artifact is ≤ 2·
 * `buckets` rows (the point of feature hashing — fixed-size no matter
 * the corpus), so [[score]] broadcasts it onto the batch's scan-stage
 * feature stream; text never shuffles.
 *
 * Layout (the [[BpeIndex]] shape):
 *  - `target_counts` — (b, c_t) bin counts of the target corpus;
 *  - `raw_counts` — (b, c_r) bin counts of the training-time raw pool;
 *  - `params` — one row (buckets, n_target_bins, n_raw_bins, sig): the
 *    feature-space geometry derives from the INDEX, never the caller
 *    (a buckets mismatch would silently hash every feature into the
 *    wrong bin), and `sig` is the content signature tying params to the
 *    exact count rows it was written with (the two-table overwrite is
 *    non-atomic — [[BpeIndex.signature]]'s torn/interleaved case).
 *
 * Scoring a batch under the stored model: bins the batch never saw at
 * train time read c_r = 0 through the left join — the add-one smoothing
 * floor (bitlen(1) = 1 bit), same as an unseen target bin. Single-
 * writer overwrite semantics; model evolution is a rebuild (counts are
 * a snapshot of a training corpus, not an accretion).
 */
object DsirIndex {

  /** Content signature over both count tables in bin order — hand-rolled
    * FNV-1a (stable across JVMs; it lives in a persisted artifact). */
  def signature(ct: Seq[(Long, Long)], cr: Seq[(Long, Long)]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      h ^= 0x1e; h *= 0x100000001b3L // field separator
    }
    ct.foreach { case (b, c) => mix(b.toString); mix(c.toString) }
    mix("|") // table separator: ([],[x]) must not collide with ([x],[])
    cr.foreach { case (b, c) => mix(b.toString); mix(c.toString) }
    h
  }

  private def countRows(df: DataFrame, cName: String): Seq[(Long, Long)] =
    df.orderBy("b").collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long](cName))).toSeq

  /** Train the model: bin-count `target` and `pool` under `buckets`
    * hashed-bigram bins and persist both tables + params under `dir`.
    * The TOKENIZER is part of the model ([[DeconIndex]]'s invariant):
    * the stored params record the surface the histograms were counted
    * on, and [[score]] derives its feature stream from the INDEX —
    * scoring a batch under a different surface than the training
    * histograms is silent mis-weighting, never a caller choice. */
  def build(pool: DataFrame, target: DataFrame, dir: String,
      buckets: Int = 1024,
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): Unit =
    WriterLease.withLease(pool.sparkSession, dir, "dsir build") {
    val spark = pool.sparkSession
    import spark.implicits._
    val ct = Retrieval.dsirBinCounts(target, buckets, "c_t", tok)
    val cr = Retrieval.dsirBinCounts(pool, buckets, "c_r", tok)
    ct.write.mode("overwrite").parquet(s"$dir/target_counts")
    cr.write.mode("overwrite").parquet(s"$dir/raw_counts")
    val ctRows = countRows(spark.read.parquet(s"$dir/target_counts"), "c_t")
    val crRows = countRows(spark.read.parquet(s"$dir/raw_counts"), "c_r")
    Seq((buckets, ctRows.size.toLong, crRows.size.toLong,
      signature(ctRows, crRows), tok.name))
      .toDF("buckets", "n_target_bins", "n_raw_bins", "sig", "dtok")
      .write.mode("overwrite").parquet(s"$dir/params")
    // version stamps + manifest LAST ([[SwapManifest]], the IvfIndex/
    // BpeIndex/UnigramIndex protocol): a build that died between the
    // three table writes fails loudly at first read even when the
    // per-table shapes happen to agree
    val fs = SwapManifest.fsOf(spark, dir)
    val v = SwapManifest.newVersion()
    SwapManifest.stampTables(fs, dir, tableNames, v)
    SwapManifest.writeManifest(fs, dir, tableNames.map(_ -> v).toMap)
    }

  private val tableNames = Seq("target_counts", "raw_counts", "params")

  /** Adopt a PRE-MANIFEST DSIR index (stamp + manifest, no rebuild) —
    * [[DedupIndex.adoptManifest]]'s contract. Runs [[requireValid]]'s
    * CONTENT checks (bin counts + content signature vs params) without
    * the manifest gate, then blesses the table set. */
  def adoptManifest(spark: SparkSession, dir: String): Unit = {
    val (_, nT, nR, sig) = readParams(spark, dir)
    val ctRows = countRows(spark.read.parquet(s"$dir/target_counts"), "c_t")
    val crRows = countRows(spark.read.parquet(s"$dir/raw_counts"), "c_r")
    require(ctRows.size.toLong == nT && crRows.size.toLong == nR,
      s"adopt: DSIR index at '$dir' is torn: params say ($nT, $nR) bins " +
        s"but (${ctRows.size}, ${crRows.size}) are stored — rebuild " +
        "instead of adopting")
    require(signature(ctRows, crRows) == sig,
      s"adopt: DSIR index at '$dir' failed its content signature — " +
        "rebuild instead of adopting")
    SwapManifest.adopt(spark, dir, tableNames, "DSIR index")
  }

  /** Score a batch under the STORED model — identical arithmetic to
    * [[Retrieval.dsirScores]], with the count tables read from the
    * artifact instead of recomputed and the feature stream drawn from
    * the STORED tokenizer surface. Validates the signature first (a
    * torn model must not silently steer selection). */
  def score(spark: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    val (buckets, _, _, _) = requireValid(spark, dir)
    val tok = storedTok(spark, dir)
    val ct = spark.read.parquet(s"$dir/target_counts")
    val cr = spark.read.parquet(s"$dir/raw_counts")
    Retrieval.dsirScoreAgainst(docs, ct, cr, buckets, tok)
  }

  /** STREAM-SAFE scoring under the stored model — [[score]]'s verdict
    * re-expressed so an ingest stream can run it ([[DeconIndex
    * .probeWinnowStream]]'s reasoning): the batch path's explode →
    * broadcast join → per-doc aggregate → join-back is a stream-stream
    * join in Structured Streaming's eyes, so here the two ≤ `buckets`-
    * row count tables ride ONE static broadcast row as maps and the
    * score is a pure per-row array fold over the doc's own bigram bins
    * (multiplicity preserved — each occurrence is one feature, exactly
    * as the exploded path counts it). No aggregate, no join-back —
    * append-mode legal in front of any landing sink, so selection-by-
    * target-likeness can run AT INGEST, not only as a batch pass.
    * Row-identical to [[score]] on the same corpus (spec-pinned).
    * Output: the corpus row + (n_feats, lr_bits, lr_scaled). Re-reads
    * the static side per call — a long-lived stream should load once
    * via [[scorer]]. Snapshot consistency: the model is read lazily, so
    * each Spark action on the returned frame re-reads it, and two
    * actions that straddle an index swap or compaction can score
    * against different model versions. A batch caller running several
    * actions on one result should use [[scorer]], which freezes one
    * version. */
  def scoreStream(spark: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    // LAZY static side (round-21, from the round-20 advice): the
    // per-call form must not localCheckpoint — a long-lived stream
    // calling it per micro-batch (the documented usage) would leak one
    // persisted RDD per batch and pay an eager materialization job at
    // plan-build time. Only [[scorer]] (hoisted once per stream)
    // freezes the model.
    scorerImpl(spark, dir, materialize = false)(docs)

  /** LOAD-ONCE form of [[scoreStream]] (round-20 optimization, guide
    * §4.5 "initialise heavyweight state once per task, not per batch"):
    * validates the artifact, reads the two count tables and folds them
    * into the 1-row map model EXACTLY once, materialized via
    * localCheckpoint — every micro-batch then pays one tiny re-broadcast
    * of the frozen row instead of two parquet scans + aggregates + a
    * manifest verify. The model is frozen for the stream's lifetime
    * (the writer lease makes a racing rebuild refuse, and foreachBatch
    * is single-writer). Per-batch output is row-identical to
    * [[scoreStream]] (spec-pinned). */
  def scorer(spark: SparkSession,
      dir: String): DataFrame => DataFrame =
    scorerImpl(spark, dir, materialize = true)

  private def scorerImpl(spark: SparkSession, dir: String,
      materialize: Boolean): DataFrame => DataFrame = {
    val (buckets, _, _, _) = requireValid(spark, dir)
    val tok = storedTok(spark, dir)
    val folded = spark.read.parquet(s"$dir/target_counts")
      .agg(map_from_entries(collect_list(struct(col("b"), col("c_t"))))
        .as("ct_map"))
      .crossJoin(spark.read.parquet(s"$dir/raw_counts")
        .agg(map_from_entries(collect_list(struct(col("b"), col("c_r"))))
          .as("cr_map")))
    val model = if (materialize) folded.localCheckpoint(true) else folded
    docs => docs.crossJoin(broadcast(model))
      .withColumn("graft_bs",
        Retrieval.bigramBinValues(col("text"), buckets, tok))
      .withColumn("n_feats", size(col("graft_bs")).cast("long"))
      .withColumn("lr_bits", aggregate(col("graft_bs"), lit(0L), (acc, b) =>
        acc + (length(bin(coalesce(element_at(col("ct_map"), b), lit(0L))
            + lit(1L))) -
          length(bin(coalesce(element_at(col("cr_map"), b), lit(0L))
            + lit(1L)))).cast("long")))
      .withColumn("lr_scaled",
        when(col("n_feats") > 0,
          expr("CAST((lr_bits + 64 * n_feats) * 10000 AS BIGINT) div n_feats"))
          .otherwise(lit(0L)))
      .drop("graft_bs", "ct_map", "cr_map")
  }

  /** The tokenizer the stored histograms were counted on. Layout guard
    * BEFORE any use ([[DeconIndex]]'s reasoning): a params table written
    * by the pre-tokenizer layout must fail loudly — silently assuming
    * Ascii would mis-weight a Unicode-trained model's every score. */
  private def storedTok(spark: SparkSession,
      dir: String): DedupOps.Tokenizer = {
    val row = spark.read.parquet(s"$dir/params").head()
    require(row.schema.fieldNames.contains("dtok"),
      s"DSIR index at '$dir' predates the stored-tokenizer layout — " +
        "rebuild it (scoring must use the surface the model was " +
        "trained on, and this artifact does not record it)")
    row.getAs[String]("dtok") match {
      case "ascii" => DedupOps.Tokenizer.Ascii
      case "unicode" => DedupOps.Tokenizer.Unicode
      case other => throw new IllegalStateException(
        s"DSIR index at '$dir' stores unknown tokenizer '$other'")
    }
  }

  /**
   * Operational health report ([[BpeIndex.healthCheck]]'s parity): one
   * row from params + the two tiny count tables, REPORTING where
   * [[score]] throws —
   *  - `bins_ok` — stored row counts match params (torn overwrite);
   *  - `range_ok` — every bin id in [0, buckets) with positive count
   *    (a count table from a different buckets geometry shows here);
   *  - `sig_ok` — rows hash to params' content signature (interleaved
   *    builders — both per-table checks can pass on a MIXED artifact);
   *  - `healthy` — the conjunction a monitoring rule alerts on.
   * Throws only on an absent index (params missing), like every loader.
   */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (buckets, nT, nR, sig) = readParams(spark, dir)
    val ctRows = countRows(spark.read.parquet(s"$dir/target_counts"), "c_t")
    val crRows = countRows(spark.read.parquet(s"$dir/raw_counts"), "c_r")
    val binsOk = ctRows.size.toLong == nT && crRows.size.toLong == nR
    val all = ctRows ++ crRows
    val rangeOk = all.forall { case (b, c) => b >= 0 && b < buckets && c > 0 }
    val sigOk = signature(ctRows, crRows) == sig
    // tok_ok REPORTS what storedTok/score would throw on: a
    // pre-tokenizer-layout params row or an unknown stored name.
    val pRow = spark.read.parquet(s"$dir/params").head()
    val tokName =
      if (pRow.schema.fieldNames.contains("dtok")) pRow.getAs[String]("dtok")
      else "(pre-tokenizer layout)"
    val tokOk = tokName == "ascii" || tokName == "unicode"
    val (hasManifest, stale) =
      SwapManifest.staleTables(SwapManifest.fsOf(spark, dir), dir)
    Seq((buckets, ctRows.size.toLong, crRows.size.toLong, tokName, binsOk,
      rangeOk, sigOk, tokOk, hasManifest, stale.mkString(","),
      binsOk && rangeOk && sigOk && tokOk && hasManifest && stale.isEmpty))
      .toDF("buckets", "n_target_bins", "n_raw_bins", "tok", "bins_ok",
        "range_ok", "sig_ok", "tok_ok", "has_manifest", "stale_tables",
        "healthy")
  }

  private def requireValid(spark: SparkSession,
      dir: String): (Int, Long, Long, Long) = {
    val p @ (_, nT, nR, sig) = readParams(spark, dir)
    // stamp agreement BEFORE the content checks (the BpeIndex ordering):
    // the manifest names a torn multi-table write outright
    SwapManifest.verify(spark, dir, "DSIR index")
    val ctRows = countRows(spark.read.parquet(s"$dir/target_counts"), "c_t")
    val crRows = countRows(spark.read.parquet(s"$dir/raw_counts"), "c_r")
    require(ctRows.size.toLong == nT && crRows.size.toLong == nR,
      s"DSIR index at '$dir' is torn: params say ($nT, $nR) bins but " +
        s"(${ctRows.size}, ${crRows.size}) are stored — rebuild")
    require(signature(ctRows, crRows) == sig,
      s"DSIR index at '$dir' is torn: stored counts do not match the " +
        "params content signature (interleaved or partial build) — rebuild")
    p
  }

  private def readParams(spark: SparkSession,
      dir: String): (Int, Long, Long, Long) =
    try {
      val row = spark.read.parquet(s"$dir/params").head()
      (row.getAs[Int]("buckets"), row.getAs[Long]("n_target_bins"),
        row.getAs[Long]("n_raw_bins"), row.getAs[Long]("sig"))
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"load: no DSIR index at '$dir' — the params table is missing; " +
            "run build() first", e)
    }
}
