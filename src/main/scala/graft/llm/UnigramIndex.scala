package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import IndexLifecycle.{Check, Health, Inspected}

/**
 * Persisted unigram-LM vocabulary — the fifth index lifecycle beside
 * [[DedupIndex]], [[IvfIndex]], [[DeconIndex]] and [[BpeIndex]]: the
 * SentencePiece-family tokenizer artifact every job that budgets or
 * packs by unigram tokens must share (a vocabulary that drifted between
 * jobs makes their token counts mutually inconsistent — the BpeIndex
 * argument, applied to the second tokenizer family).
 *
 * Layout (the [[BpeIndex]] shape):
 *  - `pieces` — (piece, freq, cost), the learned vocabulary with its
 *    integer surprisal-bit costs, piece-ordered;
 *  - `params` — one row (n_pieces, chunk_len, max_piece_len, unk_cost,
 *    sig, fert_permille): encode geometry derives from the INDEX, never
 *    the caller — serving a chunk-6 vocabulary with chunk-8 boundaries
 *    silently re-segments every word ([[DedupIndex]]'s wrong-param
 *    rule) — plus the content signature and the training-corpus
 *    fertility (tokens per chunk, integer permille) that anchors
 *    [[driftCheck]].
 *
 * Rebuild, not append: costs are global functions of the vocabulary
 * total (bitlen(tot) − bitlen(freq)), so ANY frequency change re-prices
 * every piece — vocabulary evolution replaces the whole artifact via
 * [[IndexLifecycle.rebuild]], stamped and manifest-gated by
 * [[SwapManifest]] so a torn swap fails loudly at first read.
 *
 * Reference behavior: the reference has no tokenizer
 * (`server/metrics/metrics.go:35` counts payload sizes only); this
 * persists the engine's own training-data vocabulary.
 */
object UnigramIndex {

  import UnigramLm.Piece

  /** Content signature of a piece-ordered vocabulary — FNV-1a over every
    * field in order ([[BpeIndex.signature]]'s role: ties params to the
    * exact piece rows they were written with, so interleaved or partial
    * table overwrites are detectable even when shapes agree). */
  def signature(ps: Seq[Piece]): Long =
    IndexLifecycle.fnv1a(ps.flatMap(p =>
      Seq(p.piece, p.freq.toString, p.cost.toString)))

  private val lifecycle = new IndexLifecycle("unigram index",
    Seq("pieces", "params"))

  /** Learn the vocabulary from `docs` and persist it under `dir`
    * (version-stamped, manifest LAST — the [[BpeIndex.build]] protocol). */
  def build(docs: DataFrame, dir: String, chunkLen: Int = 6,
      maxPieceLen: Int = 3, minCount: Long = 3L, vocabSize: Int = 40): Unit =
    lifecycle.build(docs.sparkSession, dir)(
      writeLearned(docs, chunkLen, maxPieceLen, minCount, vocabSize))

  /**
   * Persist an EM-PRUNED vocabulary ([[UnigramLm.learnEm]] — the real
   * SentencePiece learn) as the same artifact: pieces + params, with the
   * round's USAGE TOTAL stored as `priced_tot`. An EM vocabulary's costs
   * are priced against mass the surviving pieces no longer sum to
   * (pruned pieces and unk tokens carried usage), so the artifact must
   * carry the pricing total or every load would mis-price unk — exactly
   * the [[UnigramLm.codecPriced]] contract, persisted. Load paths
   * validate the stored costs against `priced_tot` (not sum(freq)), so
   * a tampered total is as loud as a tampered cost.
   */
  def buildEm(docs: DataFrame, dir: String, chunkLen: Int = 6,
      maxPieceLen: Int = 3, minCount: Long = 3L, seedSize: Int = 40,
      targetSize: Int = 10, keepPermille: Int = 625): Unit =
    lifecycle.build(docs.sparkSession, dir, "buildEm")(writeEm(docs,
      chunkLen, maxPieceLen, minCount, seedSize, targetSize, keepPermille))

  private def writeLearned(docs: DataFrame, chunkLen: Int, maxPieceLen: Int,
      minCount: Long, vocabSize: Int)(out: IndexLifecycle.Out): Unit = {
    val ps = UnigramLm.learnVocab(docs, chunkLen, maxPieceLen, minCount,
      vocabSize)
    writeTables(docs, out, ps, ps.map(_.freq).sum, chunkLen, maxPieceLen)
  }

  private def writeEm(docs: DataFrame, chunkLen: Int, maxPieceLen: Int,
      minCount: Long, seedSize: Int, targetSize: Int, keepPermille: Int)(
      out: IndexLifecycle.Out): Unit = {
    val em = UnigramLm.learnEm(docs, chunkLen, maxPieceLen, minCount,
      seedSize, targetSize, keepPermille).last
    writeTables(docs, out, em.vocab, em.usageTotal, chunkLen, maxPieceLen)
  }

  private def writeTables(docs: DataFrame, out: IndexLifecycle.Out,
      ps: Seq[Piece], pricedTot: Long, chunkLen: Int,
      maxPieceLen: Int): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    out.parquet("pieces", ps.toDF("piece", "freq", "cost"))
    val codec = UnigramLm.codecPriced(ps, chunkLen, maxPieceLen, pricedTot)
    out.parquet("params", Seq((ps.size, chunkLen, maxPieceLen, codec.unkCost,
      signature(ps),
      fertilityPermille(docs, ps, chunkLen, maxPieceLen, pricedTot),
      pricedTot))
      .toDF("n_pieces", "chunk_len", "max_piece_len", "unk_cost", "sig",
        "fert_permille", "priced_tot"))
  }

  /** Corpus fertility under `ps`: Viterbi tokens per CHUNK in integer
    * permille (floor — exact cross-engine arithmetic). One scan-stage
    * aggregate via the codegen'd codec. */
  private def fertilityPermille(docs: DataFrame, ps: Seq[Piece],
      chunkLen: Int, maxPieceLen: Int, pricedTot: Long): Long = {
    val codec = UnigramLm.codecPriced(ps, chunkLen, maxPieceLen, pricedTot)
    val row = docs.agg(
      coalesce(sum(UnigramLm.tokenCount(col("text"), codec)), lit(0L)).as("nt"),
      coalesce(sum(UnigramLm.chunkCount(col("text"), chunkLen)), lit(0L))
        .as("nc")).head()
    row.getAs[Long]("nt") * 1000L / math.max(row.getAs[Long]("nc"), 1L)
  }

  /** Vocabulary drift report ([[BpeIndex.driftCheck]]'s parity): stored
    * vocabulary's fertility on a NEW corpus snapshot vs the training
    * fertility stamped at [[build]] — the rebuild-cadence gate, integer
    * permille throughout. */
  def driftCheck(docs: DataFrame, dir: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    val fertTrain = s.params.getAs[Long]("fert_permille")
    val fertNow = fertilityPermille(docs, s.pieces, s.chunkLen,
      s.maxPieceLen, s.tot)
    Seq((s.pieces.size, fertTrain, fertNow, fertNow - fertTrain))
      .toDF("n_pieces", "fert_train_permille", "fert_now_permille",
        "drift_permille")
  }

  /**
   * Streaming form of [[driftCheck]]'s measurement ([[BpeIndex
   * .driftScorer]]'s parity): per-document Viterbi token and chunk
   * counts under the FROZEN stored vocabulary — a pure per-row function
   * of the text, so the landed rows are batch-split invariant BY
   * CONSTRUCTION and an at-least-once feed's replays are literal
   * duplicate rows an idempotent landing collapses. LOAD-ONCE: the
   * stored vocabulary loads and the priced codec builds EXACTLY once;
   * every micro-batch then applies the frozen scan-stage projection.
   */
  def driftScorer(spark: SparkSession,
      dir: String): DataFrame => DataFrame = {
    val (ps, chunkLen, maxPieceLen, tot) = loadModel(spark, dir)
    val codec = UnigramLm.codecPriced(ps, chunkLen, maxPieceLen, tot)
    batch => batch.select(col("doc_id"),
      coalesce(UnigramLm.tokenCount(col("text"), codec), lit(0L))
        .as("n_toks"),
      coalesce(UnigramLm.chunkCount(col("text"), chunkLen), lit(0L))
        .as("n_chunks"))
  }

  /**
   * The loader-facing EXPORT under the FROZEN stored vocabulary: each
   * document's full Viterbi token stream in long format `(doc_id, pos,
   * token)` — what a trainer actually reads, produced by the stored
   * tokenizer artifact rather than an inline learn (two jobs exporting
   * under drifted vocabularies would emit mutually inconsistent token
   * ids — the index exists to prevent exactly that).
   *
   * Stream-safe by construction: the stream is a pure per-row function
   * of `(doc_id, text)` ([[graft.functions.UnigramTokensExpr]] +
   * posexplode — no aggregate, no join), so landed rows are batch-split
   * invariant and an at-least-once feed's replays are literal duplicate
   * rows an idempotent landing + distinct collapses ((doc_id, pos) keys
   * every token). LOAD-ONCE: the stored vocabulary loads and the
   * priced codec builds EXACTLY once; every micro-batch then applies
   * the frozen scan-stage posexplode projection — no shuffle.
   */
  def tokenStreamer(spark: SparkSession,
      dir: String): DataFrame => DataFrame = {
    val (ps, chunkLen, maxPieceLen, tot) = loadModel(spark, dir)
    val codec = UnigramLm.codecPriced(ps, chunkLen, maxPieceLen, tot)
    batch => batch.select(col("doc_id"),
      posexplode(UnigramLm.tokens(col("text"), codec)).as(Seq("pos", "token")))
  }

  /** Fold [[driftScorer]]'s accumulated per-document rows (one row
    * per unique doc — the caller dedupes replays) into [[driftCheck]]'s
    * one-row report: same integer-permille fertility, same drift gate. */
  def driftReportFrom(spark: SparkSession, dir: String,
      perDoc: DataFrame): DataFrame = {
    import spark.implicits._
    val params = lifecycle.open(spark, dir)
    val fertTrain = params.getAs[Long]("fert_permille")
    val agg = perDoc.agg(
      coalesce(sum(col("n_toks")), lit(0L)),
      coalesce(sum(col("n_chunks")), lit(0L))).head()
    val fertNow = agg.getLong(0) * 1000L / math.max(agg.getLong(1), 1L)
    Seq((params.getAs[Int]("n_pieces"), fertTrain, fertNow,
        fertNow - fertTrain))
      .toDF("n_pieces", "fert_train_permille", "fert_now_permille",
        "drift_permille")
  }

  /** Re-learn on a new corpus snapshot and swap live ([[BpeIndex
    * .rebuild]]'s staged protocol: stage both tables, stamp the NEW
    * version, swap both tables, manifest LAST; a failed swap rolls
    * back, and any tear is refused by the load paths). */
  def rebuild(docs: DataFrame, dir: String, chunkLen: Int = 6,
      maxPieceLen: Int = 3, minCount: Long = 3L, vocabSize: Int = 40): Unit = {
    lifecycle.params(docs.sparkSession, dir) // rebuild replaces; build creates
    lifecycle.rebuild(docs.sparkSession, dir)(
      writeLearned(docs, chunkLen, maxPieceLen, minCount, vocabSize))
  }

  /** [[rebuild]] for the EM-pruned model ([[buildEm]]'s staged parity):
    * re-run the full EM learn on a new corpus snapshot and swap live —
    * same staged swap + manifest-LAST protocol, pricing total re-stored. */
  def rebuildEm(docs: DataFrame, dir: String, chunkLen: Int = 6,
      maxPieceLen: Int = 3, minCount: Long = 3L, seedSize: Int = 40,
      targetSize: Int = 10, keepPermille: Int = 625): Unit = {
    lifecycle.params(docs.sparkSession, dir)
    lifecycle.rebuild(docs.sparkSession, dir)(writeEm(docs, chunkLen,
      maxPieceLen, minCount, seedSize, targetSize, keepPermille))
  }

  /** The stored vocabulary table (piece, freq, cost), piece-ordered —
    * the registry-facing roundtrip read. */
  def loadVocab(spark: SparkSession, dir: String): DataFrame = {
    lifecycle.open(spark, dir)
    spark.read.parquet(s"$dir/pieces")
  }

  /** The vocabulary, ready for [[UnigramLm.codecOf]] — model-sized,
    * driver-side by design. Throws on the first failed check of
    * [[inspect]]'s list: count and content signature against params
    * (torn-overwrite detection), piece uniqueness, and the cost formula
    * itself (every stored cost must equal bitlen(tot) − bitlen(freq) —
    * a price drifted from its own frequencies is a corrupt model even
    * when internally consistent in shape). */
  def load(spark: SparkSession, dir: String): Seq[Piece] =
    loadModel(spark, dir)._1

  /** [[load]] plus the stored encode geometry — callers MUST build the
    * codec with the returned (chunkLen, maxPieceLen); serving under
    * different boundaries silently re-segments every word. */
  def loadWithGeometry(spark: SparkSession,
      dir: String): (Seq[Piece], Int, Int) = {
    val (ps, cl, mpl, _) = loadModel(spark, dir)
    (ps, cl, mpl)
  }

  /** [[loadWithGeometry]] plus the PRICING TOTAL the stored costs were
    * computed against — pass all four into [[UnigramLm.codecPriced]].
    * For a [[build]] vocabulary the total is sum(freq); for a
    * [[buildEm]] one it exceeds it (pruned/unk mass carried usage) and
    * is stored in params as `priced_tot` (legacy artifacts without the
    * column are plain-learn by construction — sum(freq)). Validates the
    * cost formula and unk price against THAT total, so a mispriced or
    * tampered total refuses as loudly as a tampered cost. */
  def loadModel(spark: SparkSession,
      dir: String): (Seq[Piece], Int, Int, Long) = {
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    (s.pieces, s.chunkLen, s.maxPieceLen, s.tot)
  }

  /** The params row, the piece-ordered vocabulary, its encode geometry
    * and pricing total, and its one check list — what the load paths
    * throw on, [[healthCheck]] renders and [[IndexHealth]] folds:
    *
    *  - `n_stored` — stored piece count matches params (torn overwrite);
    *  - `sig` — piece rows hash to params' content signature;
    *  - `unique` — no piece is stored twice (a duplicated row can keep
    *    count, signature and costs consistent);
    *  - `cost` — every stored cost and the unk price equal the
    *    surprisal-bit formula against the pricing total. */
  private final case class Stored(params: Row, pieces: Seq[Piece],
      chunkLen: Int, maxPieceLen: Int, tot: Long, checks: Seq[Check])
      extends Inspected

  private def inspect(spark: SparkSession, dir: String): Stored = {
    val p = lifecycle.params(spark, dir)
    val nPieces = p.getAs[Int]("n_pieces")
    val ps = spark.read.parquet(s"$dir/pieces").orderBy("piece").collect()
      .map(r => Piece(r.getAs[String]("piece"), r.getAs[Long]("freq"),
        r.getAs[Long]("cost")))
      .toSeq
    // priced_tot: absent on pre-EM-layout artifacts, which are
    // plain-learn by construction (their total IS sum(freq))
    val tot =
      if (p.schema.fieldNames.contains("priced_tot")) p.getAs[Long]("priced_tot")
      else ps.map(_.freq).sum
    Stored(p, ps, p.getAs[Int]("chunk_len"), p.getAs[Int]("max_piece_len"),
      tot, Seq(
        Check("n_stored", ps.size == nPieces, Some(ps.size.toLong),
          s"unigram index at '$dir' is torn: params say n_pieces=$nPieces " +
            s"but ${ps.size} pieces are stored — rebuild"),
        Check("sig", signature(ps) == p.getAs[Long]("sig"), None,
          s"unigram index at '$dir' is torn: the stored pieces do not match " +
            "the params content signature (interleaved or partial build) — " +
            "rebuild"),
        Check("unique", ps.map(_.piece).distinct.size == ps.size, None,
          s"unigram index at '$dir' is corrupt: a piece is stored more " +
            "than once — rebuild"),
        Check("cost", ps.forall(x =>
            x.cost == UnigramLm.bitlen(tot) - UnigramLm.bitlen(x.freq)) &&
            p.getAs[Long]("unk_cost") == UnigramLm.bitlen(tot) - 1L, None,
          s"unigram index at '$dir' is corrupt: stored costs or unk_cost " +
            "disagree with the surprisal-bit formula against the stored " +
            "pricing total — rebuild")))
  }

  /** Operational health report ([[BpeIndex.healthCheck]]'s columns): one
    * row rendering the check list the load paths throw on ([[inspect]]:
    * `n_ok`, `sig_ok`, `unique_ok`, `cost_ok`) with the shared
    * manifest/stamp agreement and `healthy` — the row a scheduled monitor
    * lands per index. */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (s, h) = inspected(spark, dir)
    Seq((s.params.getAs[Int]("n_pieces").toLong, s.pieces.size.toLong,
      h("n_stored"), h("sig"), h("unique"), h("cost"), h("manifest"),
      h.stale.mkString(","), h("healthy")))
      .toDF("n_pieces", "n_stored", "n_ok", "sig_ok", "unique_ok",
        "cost_ok", "has_manifest", "stale_tables", "healthy")
  }

  /** [[IndexHealth]]'s rows: [[healthCheck]]'s checks as a list. */
  private[llm] def health(spark: SparkSession, dir: String): Health =
    inspected(spark, dir)._2

  private def inspected(spark: SparkSession, dir: String): (Stored, Health) = {
    val s = inspect(spark, dir)
    (s, lifecycle.health(spark, dir, s.checks,
      Some(s.params.getAs[Int]("n_pieces").toLong)))
  }
}
