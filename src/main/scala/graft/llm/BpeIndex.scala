package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Try

import IndexLifecycle.{Check, Health, Inspected}

/**
 * Persisted BPE vocabulary — the fourth index lifecycle beside
 * [[DedupIndex]] (near-dup), [[IvfIndex]] (ANN) and [[DeconIndex]]
 * (benchmark gates). The tokenizer is the one derived artifact EVERY
 * production job shares: token budgeting ([[TextAnalysis.packSequencesBy]],
 * [[TextAnalysis.mixtureSampleTokensBy]]), surprisal filters and encoder
 * exports all replay the same ordered merge list, and a vocabulary that
 * silently drifted between jobs would make their token counts mutually
 * inconsistent. So the merges are learned ONCE ([[Bpe.learnMerges]] —
 * K driver-round argmaxes over the word-type histogram) and stored as a
 * tiny parquet artifact; every later job [[load]]s the list (a few-KB
 * read) and bakes it into scan-stage expression literals
 * ([[Bpe.tokenCount]]'s native [[graft.functions.BpeCountExpr]]) — no
 * relearn, no join, a 1000-executor scan stays a scan.
 *
 * Layout (the [[DeconIndex]] shape):
 *  - `merges` — (rank, lhs, rhs, merged, cnt), the ordered vocabulary;
 *  - `params` — one row (k, sep): encode geometry derives from the
 *    INDEX, never the caller — a separator that mismatched the learned
 *    merges would silently mis-tokenize every word ([[DedupIndex]]'s
 *    wrong-param rule), so [[load]] validates it against [[Bpe.Sep]].
 *
 * Reference behavior: the reference has no tokenizer (payload-size
 * histograms only, `server/metrics/metrics.go:35`); this persists the
 * engine's own training-data vocabulary with the same lifecycle
 * discipline as the other three indexes.
 *
 * Single-writer: [[build]] overwrites atomically per-table; concurrent
 * builders race benignly (last full write wins, both are valid learned
 * artifacts of their input). There is no append — BPE merges are
 * order-sensitive, so vocabulary evolution is a rebuild, not an
 * accretion (appending merges learned against a different corpus state
 * would change the greedy replay semantics of EARLIER ranks' output).
 */
object BpeIndex {

  /** Content signature of an ordered merge list — FNV-1a over every
    * field of every merge in rank order. Stamped into params at [[build]]
    * and recomputed from the stored merges at [[load]]: build writes
    * merges then params as two non-atomic overwrites, so a crash (or two
    * builders interleaving) between them can leave NEW params over OLD
    * merges; when both vocabularies share k and sep, the k/sep torn-index
    * checks pass and a silently MIXED artifact loads. The signature ties
    * params to the exact merge rows it was written with. Hand-rolled
    * FNV-1a (not JVM hashCode) so the stamp is stable across JVM/Scala
    * versions — it lives in a persisted artifact. */
  def signature(ms: Seq[Bpe.Merge]): Long =
    IndexLifecycle.fnv1a(ms.flatMap(m =>
      Seq(m.rank.toString, m.lhs, m.rhs, m.merged, m.cnt.toString)))

  /** Learn `k` merges from `docs` (over `pretok`'s surface) and persist
    * them under `dir`. The pre-tokenization mode is part of the stored
    * artifact — a vocabulary learned on the chunked surface and served
    * on the whitespace surface (or vice versa) silently mis-tokenizes
    * every word, so [[loadWithPreTok]] derives the encode surface from
    * the INDEX (the [[DsirIndex]] stored-tokenizer invariant). */
  def build(docs: DataFrame, dir: String, k: Int,
      pretok: Bpe.PreTok = Bpe.PreTok.Whitespace): Unit =
    lifecycle.build(docs.sparkSession, dir)(writeTables(docs, k, pretok))

  private val lifecycle =
    new IndexLifecycle("BPE index", Seq("merges", "params"))

  /** Learn and write merges + params through `out` (the live tables on a
    * build, the staging copies on a [[rebuild]]). */
  private def writeTables(docs: DataFrame, k: Int, pretok: Bpe.PreTok)(
      out: IndexLifecycle.Out): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = Bpe.learnMerges(
      docs.withColumn("text", pretok.prep(col("text"))), k)
    out.parquet("merges", spark.createDataFrame(ms)
      .select(col("rank"), col("lhs"), col("rhs"), col("merged"), col("cnt")))
    // params record the ACTUAL learned count (learnMerges stops early on
    // a fully-fused corpus) plus the merge-list content signature, so the
    // load-side torn-index check compares against what this build really
    // stored — not just its shape. The training-corpus fertility
    // (tokens per word, permille, integer floor) is the [[driftCheck]]
    // reference point: serving fertility is only interpretable relative
    // to what the vocabulary achieved on the corpus it was LEARNED on.
    out.parquet("params", Seq((ms.size, Bpe.Sep, signature(ms), pretok.name,
      fertilityPermille(docs, ms, pretok)))
      .toDF("k", "sep", "sig", "pretok", "fert_permille"))
  }

  /** Corpus fertility under `ms`: tokens per word in integer permille
    * (floor division — exact cross-engine arithmetic, the Det rule).
    * One scan-stage aggregate; the token counter is the native codegen'd
    * [[graft.functions.BpeCountExpr]]. */
  private def fertilityPermille(docs: DataFrame, ms: Seq[Bpe.Merge],
      pretok: Bpe.PreTok): Long = {
    val prepped = pretok.prep(col("text"))
    val row = docs.agg(
      coalesce(sum(Bpe.tokenCount(prepped, ms)), lit(0L)).as("nt"),
      coalesce(sum(size(Bpe.wordsNonEmpty(coalesce(prepped, lit(""))))
        .cast("long")), lit(0L)).as("nw")).head()
    val nt = row.getAs[Long]("nt")
    val nw = row.getAs[Long]("nw")
    nt * 1000L / math.max(nw, 1L)
  }

  /**
   * Vocabulary drift report — the rebuild-cadence decision
   * ([[IvfIndex.rebalanceCheck]]'s parity for the tokenizer lifecycle):
   * one row comparing the stored vocabulary's fertility on a NEW corpus
   * snapshot against the training-corpus fertility stamped at [[build]].
   * Fertility (tokens per word) is the metric a tokenizer owner actually
   * alerts on: a vocabulary learned on a drifted corpus fuses the wrong
   * pairs, every downstream token budget inflates, and the drift is
   * visible as `fert_now - fert_train` rising. Integer permille
   * throughout, so the gate a caller writes (`drift_permille > T`) is
   * exact cross-engine arithmetic. One scan-stage aggregate over `docs`
   * (the k-row merge list bakes into expression literals — no join). */
  def driftCheck(docs: DataFrame, dir: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    val fertTrain = trainFertility(s.params, dir)
    val fertNow = fertilityPermille(docs, s.merges, s.pretok.get)
    Seq((s.merges.size, fertTrain, fertNow, fertNow - fertTrain))
      .toDF("k", "fert_train_permille", "fert_now_permille",
        "drift_permille")
  }

  /**
   * Streaming form of [[driftCheck]]'s measurement — per-document token
   * and word counts under the FROZEN stored vocabulary, the stream
   * scorer contract ([[ClassifierIndex.scorer]]): a pure per-row
   * function of the document text, so the landed rows are batch-split
   * invariant BY CONSTRUCTION and an at-least-once feed's replays are
   * literal duplicate rows an idempotent landing collapses.
   * [[driftReportFrom]] then folds the unique per-doc rows into the
   * exact one-row report batch [[driftCheck]] computes — the
   * scheduled-rebuild trigger run as a stream instead of a scan.
   * LOAD-ONCE: the stored merge list loads (parquet read + driver
   * collect) and the scoring expressions build EXACTLY once; every
   * micro-batch then applies the frozen scan-stage projection (the
   * k-row merge list baked into expression literals, no join). The
   * vocabulary is frozen for the returned function's lifetime (writer
   * lease + single-writer foreachBatch).
   */
  def driftScorer(spark: SparkSession,
      dir: String): DataFrame => DataFrame = {
    val (ms, pt) = loadWithPreTok(spark, dir)
    val prepped = pt.prep(col("text"))
    batch => batch.select(col("doc_id"),
      coalesce(Bpe.tokenCount(prepped, ms), lit(0L)).as("n_toks"),
      coalesce(size(Bpe.wordsNonEmpty(coalesce(prepped, lit(""))))
        .cast("long"), lit(0L)).as("n_words"))
  }

  /** Fold [[driftScorer]]'s accumulated per-document rows (one row
    * per unique doc — the caller dedupes replays) into [[driftCheck]]'s
    * one-row report: same integer-permille fertility, same drift gate,
    * so a monitoring rule can consume either interchangeably. */
  def driftReportFrom(spark: SparkSession, dir: String,
      perDoc: DataFrame): DataFrame = {
    import spark.implicits._
    val params = lifecycle.open(spark, dir)
    val fertTrain = trainFertility(params, dir)
    val agg = perDoc.agg(
      coalesce(sum(col("n_toks")), lit(0L)),
      coalesce(sum(col("n_words")), lit(0L))).head()
    val fertNow = agg.getLong(0) * 1000L / math.max(agg.getLong(1), 1L)
    Seq((params.getAs[Int]("k"), fertTrain, fertNow, fertNow - fertTrain))
      .toDF("k", "fert_train_permille", "fert_now_permille",
        "drift_permille")
  }

  /** The training-corpus fertility stamped in `params` at [[build]]. */
  private def trainFertility(params: Row, dir: String): Long = {
    require(params.schema.fieldNames.contains("fert_permille"),
      s"BPE index at '$dir' predates the stored-fertility layout — " +
        "rebuild it (drift is only interpretable against the training " +
        "fertility, and this artifact does not record it)")
    params.getAs[Long]("fert_permille")
  }

  /**
   * Re-learn the vocabulary on a new corpus snapshot and swap it live —
   * the [[IvfIndex.rebuild]] lifecycle for the tokenizer. Rebuild, not
   * append: BPE merges are order-sensitive (see object scaladoc), so
   * vocabulary evolution replaces the whole artifact. Both tables stage
   * and go live together via [[graft.pipeline.DirSwap.swap]] — a crash
   * mid-swap can never leave NEW params over OLD merges (the k/sep/sig
   * torn-index case [[load]] detects but a swap should never create),
   * and a failed swap rolls back onto the previous version. The old
   * copies are deleted only after both tables are live. */
  def rebuild(docs: DataFrame, dir: String, k: Int,
      pretok: Bpe.PreTok = Bpe.PreTok.Whitespace): Unit = {
    lifecycle.params(docs.sparkSession, dir) // rebuild replaces; build creates
    lifecycle.rebuild(docs.sparkSession, dir)(writeTables(docs, k, pretok))
  }

  /** The stored vocabulary table (rank, lhs, rhs, merged, cnt) — the
    * registry-facing roundtrip read; errors if the index is absent. */
  def loadVocab(spark: SparkSession, dir: String): DataFrame = {
    lifecycle.open(spark, dir)
    spark.read.parquet(s"$dir/merges")
  }

  /** The ordered merge list, ready to bake into [[Bpe.tokenCount]] /
    * [[Bpe.encodeTokens]] literals. Driver-side by design: the artifact
    * is k rows (k ≪ data volume — it IS the vocabulary size knob), and
    * literals are the scan-stage plan. Validates the stored separator
    * against this build's [[Bpe.Sep]]. */
  def load(spark: SparkSession, dir: String): Seq[Bpe.Merge] = {
    val (ms, pt) = loadWithPreTok(spark, dir)
    // a caller that doesn't consume the stored mode would silently
    // encode a chunked-learned vocabulary on the whitespace surface —
    // the exact mis-serving the stored mode exists to prevent
    require(pt.name == Bpe.PreTok.Whitespace.name,
      s"BPE index at '$dir' was learned under pre-tokenization " +
        s"'${pt.name}' — use loadWithPreTok and prep encode inputs " +
        "with the returned mode")
    ms
  }

  /** [[load]] plus the stored pre-tokenization mode — callers encoding
    * text MUST prep it with the returned mode ([[build]]'s invariant). */
  def loadWithPreTok(spark: SparkSession,
      dir: String): (Seq[Bpe.Merge], Bpe.PreTok) = {
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    (s.merges, s.pretok.get)
  }

  /** The params row, the rank-ordered merges, the parsed pre-tokenization
    * mode, and the vocabulary's one check list — what the load paths
    * throw on, [[healthCheck]] renders and [[IndexHealth]] folds:
    *
    *  - `sep` — stored separator matches this build's [[Bpe.Sep]];
    *  - `k` — stored merge count matches params' k (torn overwrite);
    *  - `sig` — merge rows hash to params' content signature
    *    (interleaved-builder mix, the [[signature]] scaladoc's case);
    *  - `ranks` — ranks are exactly 1..k with no gaps or dupes (a
    *    shifted or partially-written merges table can pass a bare count);
    *  - `pretok` — the stored pre-tokenization mode parses. */
  private final case class Stored(params: Row, merges: Seq[Bpe.Merge],
      pretok: Try[Bpe.PreTok], checks: Seq[Check]) extends Inspected

  private def inspect(spark: SparkSession, dir: String): Stored = {
    val p = lifecycle.params(spark, dir)
    val (k, sep) = (p.getAs[Int]("k"), p.getAs[String]("sep"))
    val ms = spark.read.parquet(s"$dir/merges").orderBy("rank").collect()
      .map(r => Bpe.Merge(r.getAs[Int]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("cnt")))
      .toSeq
    val pretok = Try(Bpe.PreTok.parse(p.getAs[String]("pretok")))
    Stored(p, ms, pretok, Seq(
      Check("sep", sep == Bpe.Sep, None,
        s"BPE index at '$dir' was built with separator '$sep' but this " +
          s"build uses '${Bpe.Sep}' — encoding would silently diverge"),
      Check("k", ms.size == k, Some(k.toLong),
        s"BPE index at '$dir' is torn: params say k=$k but ${ms.size} " +
          "merges are stored — rebuild"),
      Check("sig", signature(ms) == p.getAs[Long]("sig"), None,
        s"BPE index at '$dir' is torn: the stored merges do not match the " +
          "params content signature (interleaved or partial build) — rebuild"),
      Check("ranks", ms.map(_.rank) == (1 to ms.size), None,
        s"BPE index at '$dir' is corrupt: the stored merge ranks are not " +
          s"exactly 1..${ms.size} — rebuild"),
      Check("pretok", pretok.isSuccess, None, s"BPE index at '$dir': " +
        pretok.failed.map(_.getMessage).getOrElse(""))))
  }

  /**
   * Operational health report — [[DedupIndex.healthCheck]]'s parity for
   * the vocabulary lifecycle: a scheduled job's cheap validity check
   * WITHOUT encoding anything. One row, rendered from the check list the
   * load paths throw on ([[inspect]]: `sep_ok`, `k_ok`, `sig_ok`,
   * `ranks_ok`, `pretok_ok`) plus the shared rows
   * ([[IndexLifecycle.health]]): `has_manifest` / `stale_tables`, the
   * [[SwapManifest]] agreement the load paths also throw on, and
   * `healthy`, the conjunction a monitoring rule alerts on.
   *
   * Unlike [[load]] (which throws — a consumer must not encode under a
   * bad vocabulary), this REPORTS: the scheduled check wants one row
   * per index in a table, not an exception per degraded artifact.
   * Throws only on an absent index (params missing), like every loader. */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (s, h) = inspected(spark, dir)
    Seq((s.params.getAs[Int]("k"), s.merges.size.toLong, h("sep"), h("k"),
      h("sig"), h("ranks"), h("pretok"), h("manifest"), h.stale.mkString(","),
      h("healthy")))
      .toDF("k", "n_merges", "sep_ok", "k_ok", "sig_ok", "ranks_ok",
        "pretok_ok", "has_manifest", "stale_tables", "healthy")
  }

  /** [[IndexHealth]]'s rows: [[healthCheck]]'s checks as a list. */
  private[llm] def health(spark: SparkSession, dir: String): Health =
    inspected(spark, dir)._2

  private def inspected(spark: SparkSession, dir: String): (Stored, Health) = {
    val s = inspect(spark, dir)
    (s, lifecycle.health(spark, dir, s.checks, Some(s.merges.size.toLong)))
  }
}
