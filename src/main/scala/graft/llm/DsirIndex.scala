package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
    def cells(t: Seq[(Long, Long)]) =
      t.flatMap { case (b, c) => Seq(b.toString, c.toString) }
    // table separator: ([],[x]) must not collide with ([x],[])
    IndexLifecycle.fnv1a(cells(ct) ++ Seq("|") ++ cells(cr))
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
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): Unit = {
    val spark = pool.sparkSession
    import spark.implicits._
    lifecycle.build(spark, dir) { out =>
      out.parquet("target_counts",
        Retrieval.dsirBinCounts(target, buckets, "c_t", tok))
      out.parquet("raw_counts",
        Retrieval.dsirBinCounts(pool, buckets, "c_r", tok))
      val (ctRows, crRows) = storedCounts(spark, dir)
      out.parquet("params", Seq((buckets, ctRows.size.toLong,
        crRows.size.toLong, signature(ctRows, crRows), tok.name))
        .toDF("buckets", "n_target_bins", "n_raw_bins", "sig", "dtok"))
    }
  }

  private val lifecycle = new IndexLifecycle("DSIR index",
    Seq("target_counts", "raw_counts", "params"))

  private def storedCounts(spark: SparkSession,
      dir: String): (Seq[(Long, Long)], Seq[(Long, Long)]) =
    (countRows(spark.read.parquet(s"$dir/target_counts"), "c_t"),
      countRows(spark.read.parquet(s"$dir/raw_counts"), "c_r"))

  /** Adopt a PRE-MANIFEST DSIR index (stamp + manifest, no rebuild) —
    * [[DedupIndex.adoptManifest]]'s contract. Runs [[requireValid]]'s
    * CONTENT checks (bin counts + content signature vs params) without
    * the manifest gate, then blesses the table set. */
  def adoptManifest(spark: SparkSession, dir: String): Unit =
    lifecycle.adopt(spark, dir) { row =>
      checkContent(spark, dir, parse(row))
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
    val row = lifecycle.params(spark, dir)
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
    val pRow = lifecycle.params(spark, dir)
    val (buckets, nT, nR, sig) = parse(pRow)
    val (ctRows, crRows) = storedCounts(spark, dir)
    val binsOk = ctRows.size.toLong == nT && crRows.size.toLong == nR
    val all = ctRows ++ crRows
    val rangeOk = all.forall { case (b, c) => b >= 0 && b < buckets && c > 0 }
    val sigOk = signature(ctRows, crRows) == sig
    // tok_ok REPORTS what storedTok/score would throw on: a
    // pre-tokenizer-layout params row or an unknown stored name.
    val tokName =
      if (pRow.schema.fieldNames.contains("dtok")) pRow.getAs[String]("dtok")
      else "(pre-tokenizer layout)"
    val tokOk = tokName == "ascii" || tokName == "unicode"
    val (hasManifest, stale) = lifecycle.staleTables(spark, dir)
    Seq((buckets, ctRows.size.toLong, crRows.size.toLong, tokName, binsOk,
      rangeOk, sigOk, tokOk, hasManifest, stale.mkString(","),
      binsOk && rangeOk && sigOk && tokOk && hasManifest && stale.isEmpty))
      .toDF("buckets", "n_target_bins", "n_raw_bins", "tok", "bins_ok",
        "range_ok", "sig_ok", "tok_ok", "has_manifest", "stale_tables",
        "healthy")
  }

  private def requireValid(spark: SparkSession,
      dir: String): (Int, Long, Long, Long) = {
    // stamp agreement BEFORE the content checks (the BpeIndex ordering):
    // the manifest names a torn multi-table write outright
    val p = parse(lifecycle.open(spark, dir))
    checkContent(spark, dir, p)
    p
  }

  /** Stored bin counts and content signature agree with `params`. */
  private def checkContent(spark: SparkSession, dir: String,
      params: (Int, Long, Long, Long)): Unit = {
    val (_, nT, nR, sig) = params
    val (ctRows, crRows) = storedCounts(spark, dir)
    require(ctRows.size.toLong == nT && crRows.size.toLong == nR,
      s"DSIR index at '$dir' is torn: params say ($nT, $nR) bins but " +
        s"(${ctRows.size}, ${crRows.size}) are stored — rebuild")
    require(signature(ctRows, crRows) == sig,
      s"DSIR index at '$dir' is torn: stored counts do not match the " +
        "params content signature (interleaved or partial build) — rebuild")
  }

  private def parse(row: Row): (Int, Long, Long, Long) =
    (row.getAs[Int]("buckets"), row.getAs[Long]("n_target_bins"),
      row.getAs[Long]("n_raw_bins"), row.getAs[Long]("sig"))
}
