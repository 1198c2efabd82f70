package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Try

import IndexLifecycle.{Check, Health, Inspected}

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
    * [[DedupIndex.adoptManifest]]'s contract. Runs the check list the
    * load paths throw on ([[inspect]]: bin counts, bin range, content
    * signature, stored tokenizer) without the manifest gate, then blesses
    * the table set. */
  def adoptManifest(spark: SparkSession, dir: String): Unit =
    lifecycle.adopt(spark, dir, inspect(spark, dir).checks)

  /** Score a batch under the STORED model — identical arithmetic to
    * [[Retrieval.dsirScores]], with the count tables taken from the
    * artifact instead of recomputed and the feature stream drawn from
    * the STORED tokenizer surface. Validates the signature first (a
    * torn model must not silently steer selection), then scores the
    * very rows it validated ([[ClassifierIndex]]'s rule): the count
    * tables enter the plan as local rows, so a build over `dir` after
    * this call cannot change the scores. */
  def score(spark: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    Retrieval.dsirScoreAgainst(docs, s.ct.toDF("b", "c_t"),
      s.cr.toDF("b", "c_r"), s.buckets, s.tok.get)
  }

  /** STREAM-SAFE scoring under the stored model — [[score]]'s verdict
    * re-expressed so an ingest stream can run it ([[DeconIndex
    * .winnowProber]]'s reasoning): the batch path's explode → broadcast
    * join → per-doc aggregate → join-back is a stream-stream join in
    * Structured Streaming's eyes, so here the two ≤ `buckets`-row count
    * tables ride ONE static broadcast row as maps and the score is a
    * pure per-row array fold over the doc's own bigram bins
    * (multiplicity preserved — each occurrence is one feature, exactly
    * as the exploded path counts it). No aggregate, no join-back —
    * append-mode legal in front of any landing sink, so selection-by-
    * target-likeness can run AT INGEST, not only as a batch pass.
    * Row-identical to [[score]] on the same corpus (spec-pinned).
    * Output: the corpus row + (n_feats, lr_bits, lr_scaled).
    *
    * LOAD-ONCE (heavyweight state initialises once per stream, not per
    * batch): validates the artifact EXACTLY once and folds the two count
    * tables it validated into the 1-row map model, a local row — every
    * micro-batch then pays one tiny re-broadcast of that frozen row
    * instead of two parquet scans + a manifest verify, and scores the
    * very counts the checks passed. Several actions on one result all
    * score against one version. */
  def scorer(spark: SparkSession,
      dir: String): DataFrame => DataFrame = {
    import spark.implicits._
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    val (buckets, tok) = (s.buckets, s.tok.get)
    val model = Seq((s.ct.toMap, s.cr.toMap)).toDF("ct_map", "cr_map")
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

  /** The stored geometry, the stored tokenizer, the two bin-ordered count
    * tables, and the model's one check list — what [[score]] and
    * [[scorer]] throw on, [[adoptManifest]] runs, [[healthCheck]] renders
    * and [[IndexHealth]] folds:
    *
    *  - `bins` — stored row counts match params (torn overwrite);
    *  - `range` — every bin id in [0, buckets) with positive count (a
    *    count table from a different buckets geometry shows here);
    *  - `sig` — rows hash to params' content signature (interleaved
    *    builders — both per-table checks can pass on a MIXED artifact);
    *  - `tok` — the stored tokenizer is recorded and known. The TOKENIZER
    *    is part of the model ([[DeconIndex]]'s invariant): a params table
    *    written by the pre-tokenizer layout must fail loudly — silently
    *    assuming Ascii would mis-weight a Unicode-trained model's every
    *    score. */
  private final case class Stored(params: Row, buckets: Int,
      tok: Try[DedupOps.Tokenizer], ct: Seq[(Long, Long)],
      cr: Seq[(Long, Long)], checks: Seq[Check]) extends Inspected

  private def inspect(spark: SparkSession, dir: String): Stored = {
    val p = lifecycle.params(spark, dir)
    val buckets = p.getAs[Int]("buckets")
    val (nT, nR) = (p.getAs[Long]("n_target_bins"), p.getAs[Long]("n_raw_bins"))
    val (ct, cr) = storedCounts(spark, dir)
    val tok = Try(DedupOps.Tokenizer.stored(p, "dtok", "DSIR index", dir,
      "predates the stored-tokenizer layout — rebuild it (scoring must " +
        "use the surface the model was trained on, and this artifact " +
        "does not record it)"))
    Stored(p, buckets, tok, ct, cr, Seq(
      Check("bins", ct.size.toLong == nT && cr.size.toLong == nR, None,
        s"DSIR index at '$dir' is torn: params say ($nT, $nR) bins but " +
          s"(${ct.size}, ${cr.size}) are stored — rebuild"),
      Check("range", (ct ++ cr).forall { case (b, c) =>
          b >= 0 && b < buckets && c > 0 }, None,
        s"DSIR index at '$dir' is corrupt: a stored bin lies outside " +
          s"[0, $buckets) or has a non-positive count — rebuild"),
      Check("sig", signature(ct, cr) == p.getAs[Long]("sig"), None,
        s"DSIR index at '$dir' is torn: stored counts do not match the " +
          "params content signature (interleaved or partial build) — rebuild"),
      Check("tok", tok.isSuccess, None,
        tok.failed.map(_.getMessage).getOrElse(""))))
  }

  /**
   * Operational health report ([[BpeIndex.healthCheck]]'s parity): one
   * row from params + the two tiny count tables, rendering the check
   * list [[score]] throws on ([[inspect]]: `bins_ok`, `range_ok`,
   * `sig_ok`, `tok_ok`) with the stored tokenizer name (`tok`), the
   * shared `has_manifest` / `stale_tables` rows and `healthy`, the
   * conjunction a monitoring rule alerts on.
   * Throws only on an absent index (params missing), like every loader.
   */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (s, h) = inspected(spark, dir)
    val tokName = Try(s.params.getAs[String]("dtok"))
      .getOrElse("(pre-tokenizer layout)")
    Seq((s.buckets, s.ct.size.toLong, s.cr.size.toLong, tokName, h("bins"),
      h("range"), h("sig"), h("tok"), h("manifest"), h.stale.mkString(","),
      h("healthy")))
      .toDF("buckets", "n_target_bins", "n_raw_bins", "tok", "bins_ok",
        "range_ok", "sig_ok", "tok_ok", "has_manifest", "stale_tables",
        "healthy")
  }

  /** [[IndexHealth]]'s rows: [[healthCheck]]'s checks as a list. */
  private[llm] def health(spark: SparkSession, dir: String): Health =
    inspected(spark, dir)._2

  private def inspected(spark: SparkSession, dir: String): (Stored, Health) = {
    val s = inspect(spark, dir)
    (s, lifecycle.health(spark, dir, s.checks, Some(s.buckets.toLong)))
  }
}
