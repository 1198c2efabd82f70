package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.UnigramCodec

/**
 * Deterministic unigram-LM tokenizer (the SentencePiece family, Kudo
 * 2018, arXiv:1804.10959) — the OTHER production tokenizer next to
 * [[Bpe]]: instead of replaying an ordered merge list greedily, pick
 * each chunk's minimum-cost segmentation over a piece vocabulary by
 * Viterbi dynamic programming.
 *
 * Reference behavior: the reference counts whitespace tokens only
 * (`server/metrics/metrics.go:35` payload histograms); the tokenizer is
 * part of this engine's training-data surface beyond the reference.
 *
 * Deviation from the float EM original, by design: probabilities are
 * replaced with INTEGER surprisal bits — cost(piece) = bitlen(total) −
 * bitlen(freq) (the q113 `length(bin(n))` discipline) — and soft EM with
 * one-best (hard/Viterbi) EM, so learn, encode and the re-estimation
 * round are exact integer arithmetic the DuckDB oracle replays
 * bit-for-bit. Ties resolve by (cost, piece count, packed segmentation
 * in UTF-8 byte order) — pinned in [[graft.functions.UnigramCodec]].
 *
 * Scale shape (the 100 TB story):
 *  - LEARN runs on the chunk-TYPE histogram, not the corpus: one
 *    map-side-combined hash aggregate collapses the corpus to distinct
 *    `chunkLen`-code-point chunks (bounded by vocabulary × chunking, not
 *    data volume — the [[Bpe.PreTok.chunked]] argument), candidate
 *    substring enumeration is a per-row array expression over that
 *    compact frame, and vocabulary selection is ONE distributed top-V
 *    (`orderBy.limit` = TakeOrderedAndProject — no single-partition
 *    window). Only the final model-sized vocabulary is collected.
 *  - ENCODE is a pure per-row codegen'd expression ([[UnigramCodec]]):
 *    the vocabulary rides the closure as one reference object, so token
 *    counting is scan-stage — no join, no shuffle, nothing collected.
 *  - RE-ESTIMATION (hard-EM) counts piece usage over the chunk-type
 *    histogram too — each distinct chunk Viterbi-segments once and
 *    contributes its corpus count to every piece it uses (the
 *    [[Bpe.mergeUtilization]] pattern).
 *
 * Chunking doubles as the oracle-tractability bound: every pre-token is
 * ≤ `chunkLen` code points, so the oracle's DP unrolls to a FIXED CTE
 * chain of `chunkLen` steps regardless of corpus (and CJK text gets the
 * same bounded-histogram robustness as the BPE chunked mode).
 */
object UnigramLm {

  /** Separator between pieces in the packed segmentation. Must not occur
    * inside any corpus chunk — [[learnVocab]] asserts this on the
    * histogram (same contract as [[Bpe.Sep]]). */
  val Sep = "~"

  /** One vocabulary entry: `piece` seen with weighted corpus substring
    * frequency `freq`, Viterbi cost `cost` integer surprisal bits. */
  final case class Piece(piece: String, freq: Long, cost: Long)

  /** Integer bit length: bitlen(0) = 1 (= `length(bin(0))` — both
    * engines render "0"), else position of the highest set bit. */
  private[llm] def bitlen(n: Long): Long =
    if (n <= 0L) 1L else (64 - java.lang.Long.numberOfLeadingZeros(n)).toLong

  /** Chunk-TYPE histogram: (word, cnt) over `chunkLen`-code-point chunks
    * of whitespace words. The one corpus-sized aggregate in the learn
    * path. */
  def chunkHistogram(docs: DataFrame, chunkLen: Int): DataFrame =
    docs.select(explode(Bpe.chunkWords(col("text"), chunkLen)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** All substrings of `word` up to `maxPieceLen` code points, with
    * per-occurrence multiplicity — a pure per-row array expression. */
  private def allSubstrings(word: Column, maxPieceLen: Int): Column =
    flatten(transform(sequence(lit(1), length(word)), s =>
      transform(sequence(lit(1), least(lit(maxPieceLen), length(word) - s + 1)),
        l => word.substr(s, l))))

  /**
   * Learn the vocabulary: all single code points of the corpus (coverage
   * can never fail) plus the top `vocabSize` multi-code-point substrings
   * by (weighted frequency DESC, piece ASC) among those with freq ≥
   * `minCount`. Costs are integer surprisal bits against the selected
   * vocabulary's total mass. Returned sorted by piece (deterministic
   * model order).
   */
  def learnVocab(docs: DataFrame, chunkLen: Int = 6, maxPieceLen: Int = 3,
      minCount: Long = 3L, vocabSize: Int = 40): Seq[Piece] =
    learnVocabLadder(docs, chunkLen, maxPieceLen, minCount,
      Seq(vocabSize))(vocabSize)

  /**
   * [[learnVocab]] at several multi-piece budgets from ONE candidate
   * pass — the vocabulary-SIZING curve (q214's prefix-ladder argument
   * for the unigram family, where a smaller vocabulary is not a prefix:
   * costs are global functions of the selected total, so every rung
   * re-selects and re-prices — but candidate enumeration, the only
   * corpus-histogram-sized work, is shared and checkpointed; each rung
   * is then one distributed top-V over the compact candidate frame).
   */
  def learnVocabLadder(docs: DataFrame, chunkLen: Int = 6,
      maxPieceLen: Int = 3, minCount: Long = 3L,
      rungs: Seq[Int]): Map[Int, Seq[Piece]] = {
    val hist = chunkHistogram(docs, chunkLen).localCheckpoint(true)
    try {
      requireNoSep(hist)
      selectVocab(hist, maxPieceLen, minCount, rungs)
    } finally hist.unpersist() // rungs are collected — lineage is done
  }

  /** The [[Sep]] guard every path that Viterbi-segments a histogram must
    * run: a "~" inside a chunk makes the packed-segmentation tie-break
    * ambiguous (the key would split on corpus bytes, not piece joins). */
  private def requireNoSep(hist: DataFrame): Unit =
    require(hist.filter(col("word").contains(Sep)).head(1).isEmpty,
      s"unigram separator '$Sep' occurs inside a corpus chunk")

  /** Candidate enumeration + per-rung top-V selection over an already-
    * built (and checkpointed) chunk-type histogram — the learn core
    * shared by [[learnVocabLadder]] and [[learnEm]]'s seed. */
  private def selectVocab(hist: DataFrame, maxPieceLen: Int, minCount: Long,
      rungs: Seq[Int]): Map[Int, Seq[Piece]] = {
    val cand = hist
      .select(col("cnt"),
        explode(allSubstrings(col("word"), maxPieceLen)).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("freq"))
      .localCheckpoint(true)
    try {
      val sing = cand.filter(length(col("piece")) === 1).collect()
      val multiAll = cand
        .filter(length(col("piece")) >= 2 && col("freq") >= minCount)
      rungs.map { v =>
        val rows = sing ++ multiAll
          .orderBy(col("freq").desc, col("piece")).limit(v).collect()
        val tot = rows.map(_.getLong(1)).sum
        v -> rows.map { r =>
          val f = r.getLong(1)
          Piece(r.getString(0), f, bitlen(tot) - bitlen(f))
        }.sortBy(_.piece)(graft.llm.Bpe.utf8Ordering).toSeq
      }.toMap
    } finally cand.unpersist()
  }

  /** [[learnVocab]] as a DataFrame (piece, freq, cost) — the
    * registry-facing vocabulary table. */
  def learnVocabDf(docs: DataFrame, chunkLen: Int = 6, maxPieceLen: Int = 3,
      minCount: Long = 3L, vocabSize: Int = 40): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnVocab(docs, chunkLen, maxPieceLen, minCount, vocabSize)
      .toDF("piece", "freq", "cost")
  }

  /** The codec for [[tokenCount]]/[[tokens]]: vocabulary baked into one
    * serializable reference object. The unknown-single-code-point cost
    * is cost(freq = 0) = bitlen(total) − 1 under the same formula.
    *
    * This overload derives the pricing total as sum(freq) and ASSERTS
    * every stored cost agrees with it (cost = bitlen(tot) − bitlen(freq),
    * the check [[UnigramIndex.load]] also runs) — a vocabulary priced
    * against a DIFFERENT total (an EM round whose usage total includes
    * pruned-piece or out-of-vocabulary mass) must come through
    * [[codecPriced]] with that total made explicit, or the unk cost
    * silently disagrees with the costs it competes against. */
  def codecOf(pieces: Seq[Piece], chunkLen: Int = 6,
      maxPieceLen: Int = 3): UnigramCodec = {
    val tot = pieces.map(_.freq).sum
    require(pieces.forall(p => p.cost == bitlen(tot) - bitlen(p.freq)),
      "codecOf: piece costs were not priced against sum(freq) — pass the " +
        "usage total the costs were actually priced against via codecPriced")
    codecPriced(pieces, chunkLen, maxPieceLen, tot)
  }

  /** [[codecOf]] with the pricing total explicit: `pricedTotal` is the
    * usage/frequency mass the costs were computed against (it exceeds
    * sum(freq) whenever pruned pieces or unk tokens carried usage). */
  def codecPriced(pieces: Seq[Piece], chunkLen: Int, maxPieceLen: Int,
      pricedTotal: Long): UnigramCodec = {
    require(pieces.forall(p => p.cost == bitlen(pricedTotal) - bitlen(p.freq)),
      "codecPriced: piece costs disagree with the surprisal-bit formula " +
        "against the given pricing total")
    new UnigramCodec(pieces.map(_.piece).toArray, pieces.map(_.cost).toArray,
      chunkLen, maxPieceLen, bitlen(pricedTotal) - 1L)
  }

  /** Viterbi token count of a document — a pure per-row codegen'd
    * expression ([[graft.functions.UnigramCountExpr]]). */
  def tokenCount(text: Column, codec: UnigramCodec): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    ofExpr(graft.functions.UnigramCountExpr(
      exprOf(coalesce(text, lit(""))), codec))
  }

  /** The document's full Viterbi token stream (document order,
    * multiplicity kept) as one native array expression. */
  def tokens(text: Column, codec: UnigramCodec): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    ofExpr(graft.functions.UnigramTokensExpr(
      exprOf(coalesce(text, lit(""))), codec))
  }

  /** Number of chunks a document pre-tokenizes into — the fertility
    * denominator ([[Bpe.chunkWords]] count as a long). */
  def chunkCount(text: Column, chunkLen: Int): Column =
    size(Bpe.chunkWords(coalesce(text, lit("")), chunkLen)).cast("long")

  // ------------------------------------------------- n-best sampling

  /**
   * The top-`n` segmentations of one chunk under `cost` (+`unk` for
   * out-of-vocabulary single code points), ordered by (cost bits ASC,
   * piece count ASC, segmentation UTF-8 ASC) — Kudo (2018) §4's n-best
   * lattice, run as the Viterbi DP with a per-position TOP-N state list
   * instead of a single winner. Pruning to n per position is LOSSLESS
   * for the final top-n: any completion adds the same (cost, pieces,
   * suffix string) to every state at a position, and among same-position
   * states no segmentation is a string-prefix of another (equal consumed
   * code points, separator-free pieces), so the UTF-8 tie-break is
   * preserved under common suffix extension and dominated states stay
   * dominated.
   */
  private[graft] def nbestChunk(word: String, cost: Map[String, Long],
      unk: Long, maxPieceLen: Int, n: Int): Vector[(Long, Int, String)] = {
    require(n >= 1, s"n must be >= 1, got $n")
    implicit val segOrd: Ordering[String] = Bpe.utf8Ordering
    val ord = implicitly[Ordering[(Long, Int, String)]]
    // code-point boundaries (chunks may be shorter than chunkLen)
    val off = new Array[Int](word.codePointCount(0, word.length) + 1)
    var cp = 0
    var k = 0
    while (cp < word.length) {
      off(k) = cp
      cp += Character.charCount(word.codePointAt(cp))
      k += 1
    }
    off(k) = word.length
    val states = new Array[Vector[(Long, Int, String)]](k + 1)
    states(0) = Vector((0L, 0, ""))
    var j = 1
    while (j <= k) {
      val cands = Vector.newBuilder[(Long, Int, String)]
      var l = 1
      val lMax = math.min(j, maxPieceLen)
      while (l <= lMax) {
        val piece = word.substring(off(j - l), off(j))
        var pc = cost.getOrElse(piece, Long.MaxValue)
        if (pc == Long.MaxValue && l == 1) pc = unk
        if (pc != Long.MaxValue)
          states(j - l).foreach { case (c0, np0, s0) =>
            cands += ((c0 + pc, np0 + 1,
              if (s0.isEmpty) piece else s0 + Sep + piece))
          }
        l += 1
      }
      states(j) = cands.result().sorted(ord).take(n)
      j += 1
    }
    states(k)
  }

  /**
   * N-BEST SAMPLED corpus readout — Kudo (2018) §4 subword
   * regularization, made DETERMINISTIC: for each chunk TYPE the top-N
   * segmentations ([[nbestChunk]]); for each requested `n`, a
   * salted-hash pick among the first min(n, |lattice|) of them
   * (pick = polyHash(salt ~ word) mod m — the same integer fold the
   * oracle replays); re-weighted by the per-source chunk histogram into
   * one readout row per (n, source): chunk/token mass, fertility,
   * total segmentation cost in bits, and an exact mod-P hash of the
   * sampled segmentations (pins the exact strings, not just their
   * sizes). n = 1 IS the Viterbi encode; growing n trades bits for
   * segmentation diversity — the fertility-vs-n curve.
   *
   * Scale shape: the DP runs per chunk TYPE (a bounded population, not
   * corpus volume) with the model riding the closure — scan-stage over
   * the type frame; the only shuffles are the type-bounded histogram
   * and the (word)-keyed join back to per-source counts.
   */
  def nbestSampledReport(docs: DataFrame, pieces: Seq[Piece],
      chunkLen: Int = 6, maxPieceLen: Int = 3, salt: String,
      ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n list: $ns")
    val spark = docs.sparkSession
    import spark.implicits._
    val tot = pieces.map(_.freq).sum
    require(pieces.forall(p => p.cost == bitlen(tot) - bitlen(p.freq)),
      "nbestSampledReport: piece costs were not priced against sum(freq)")
    val unk = bitlen(tot) - 1L
    val costMap = pieces.map(p => p.piece -> p.cost).toMap
    val chs = docs.select(col("source"),
        explode(Bpe.chunkWords(coalesce(col("text"), lit("")), chunkLen))
          .as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // one corpus pass feeds types AND the join
    requireNoSep(chs)
    val nMax = ns.max
    val nsList = ns.toVector
    val mpl = maxPieceLen
    val picked = chs.select("word").distinct().as[String]
      .mapPartitions(_.flatMap { w =>
        val nb = nbestChunk(w, costMap, unk, mpl, nMax)
        nsList.iterator.map { n =>
          val m = math.min(n, nb.size)
          val (c, np, seg) =
            nb((graft.functions.LlmExprs.hashChars(salt + Sep + w) % m).toInt)
          (n, w, c, np, seg)
        }
      }).toDF("n", "word", "cost_bits", "np", "seg")
    val P = graft.functions.LlmExprs.P
    chs.join(picked, "word")
      .groupBy(col("n"), col("source"))
      .agg(
        sum(col("cnt")).as("n_chunks"),
        sum(col("cnt") * col("np")).as("n_tokens"),
        sum(col("cnt") * col("cost_bits")).as("total_bits"),
        sum(col("cnt") % P * TextFunctions.polyHash(col("seg")) % P)
          .as("seg_hash"))
      .select(col("n").cast("long").as("n"), col("source"),
        col("n_chunks"), col("n_tokens"),
        expr("n_tokens * 1000 div greatest(n_chunks, 1)")
          .as("fertility_permille"),
        col("total_bits"), col("seg_hash"))
  }

  /**
   * ONE hard-EM round: Viterbi-segment the chunk-type histogram under
   * `pieces`' costs, count weighted piece usage, and re-cost the SAME
   * piece set against the usage totals (fixed support — a piece never
   * used gets cost(0), effectively pruning it without breaking single-
   * code-point coverage). Returns (piece, n_uses as freq, new cost)
   * sorted by piece.
   */
  def reestimate(docs: DataFrame, pieces: Seq[Piece], chunkLen: Int = 6,
      maxPieceLen: Int = 3): Seq[Piece] =
    reestimateWithTotal(docs, pieces, chunkLen, maxPieceLen)._1

  /** [[reestimate]] plus the usage total the new costs were priced
    * against — the value [[codecPriced]] needs to encode under the
    * re-estimated model when the total exceeds the surviving pieces' own
    * mass (out-of-vocabulary code points on a DIFFERENT corpus than the
    * learn emit unk tokens that carry usage but belong to no piece). */
  def reestimateWithTotal(docs: DataFrame, pieces: Seq[Piece],
      chunkLen: Int = 6, maxPieceLen: Int = 3): (Seq[Piece], Long) = {
    val codec = codecOf(pieces, chunkLen, maxPieceLen)
    val hist = chunkHistogram(docs, chunkLen)
    // same guard as the learn path (UnigramLm.learnVocabLadder): this may
    // run on a DIFFERENT corpus than the learn, and a "~" inside any of
    // ITS chunks corrupts the packed-segmentation tie-break just the same
    requireNoSep(hist)
    val usage = usageOver(hist, codec)
    val tot = usage.valuesIterator.sum
    (recost(pieces, usage, tot), tot)
  }

  /** Weighted Viterbi piece-usage counts of a chunk-type histogram under
    * `codec` — the E-step; model-sized output by construction. */
  private def usageOver(hist: DataFrame,
      codec: UnigramCodec): Map[String, Long] =
    hist.select(col("cnt"), explode(tokens(col("word"), codec)).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("n_uses"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The M-step: the SAME piece set, frequencies replaced by usage and
    * costs re-priced against `tot` — piece-ordered. */
  private def recost(pieces: Seq[Piece], usage: Map[String, Long],
      tot: Long): Seq[Piece] =
    pieces.map { p =>
      val u = usage.getOrElse(p.piece, 0L)
      Piece(p.piece, u, bitlen(tot) - bitlen(u))
    }.sortBy(_.piece)(graft.llm.Bpe.utf8Ordering)

  /** [[reestimate]] as a DataFrame (piece, n_uses, cost). */
  def reestimateDf(docs: DataFrame, pieces: Seq[Piece], chunkLen: Int = 6,
      maxPieceLen: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    reestimate(docs, pieces, chunkLen, maxPieceLen)
      .toDF("piece", "n_uses", "cost")
  }

  // ------------------------------------------------ EM learn with prune

  /** One round of [[learnEm]]'s trace: the usage total the round's costs
    * were priced against (pass it to [[codecPriced]] to encode under
    * `vocab`), the pieces pruned this round (piece-ordered), and the
    * surviving vocabulary (piece-ordered, re-priced). */
  final case class EmRound(round: Int, usageTotal: Long,
      pruned: Seq[String], vocab: Seq[Piece])

  /**
   * The multi-piece-count ladder of [[learnEm]]'s prune loop — a PURE
   * function of (seedSize, targetSize, keepPermille): each round keeps
   * max(targetSize, floor(nMulti · keepPermille / 1000)) multi-code-point
   * pieces, until the target size is reached. Shared between the Scala
   * loop and the oracle-SQL generator so the round structure (how many
   * DP+prune blocks unroll) can never drift between the two engines.
   */
  def emKeepLadder(seedSize: Int, targetSize: Int,
      keepPermille: Int): Seq[Int] = {
    require(seedSize > targetSize,
      s"learnEm needs seedSize ($seedSize) > targetSize ($targetSize)")
    require(keepPermille > 0 && keepPermille < 1000,
      s"keepPermille must be in (0, 1000), got $keepPermille")
    val b = Seq.newBuilder[Int]
    var cur = seedSize
    while (cur > targetSize) {
      cur = math.max(targetSize, cur * keepPermille / 1000)
      b += cur
    }
    b.result()
  }

  /** Code-point count — the length the SQL replay's `length()` and the
    * vocabulary's plen column both use. */
  private def numChars(s: String): Int = s.codePointCount(0, s.length)

  /**
   * Viterbi cost of segmenting `piece` ITSELF into ≥ 2 parts under
   * `cost`/`unkCost` — the likelihood-loss denominator of Kudo 2018's
   * prune criterion, exact in integer surprisal bits. Exclusion of the
   * piece's own entry is AUTOMATIC: every part of a ≥2-part segmentation
   * is strictly shorter than the whole, so only sub-pieces price it.
   * Always finite — single code points fall back to `unkCost`.
   */
  private[llm] def altSegCost(piece: String, cost: Map[String, Long],
      unkCost: Long, maxPieceLen: Int): Long = {
    val off = new Array[Int](numChars(piece) + 1)
    var cp = 0
    var k = 0
    while (cp < piece.length) {
      off(k) = cp
      cp += Character.charCount(piece.codePointAt(cp))
      k += 1
    }
    off(k) = piece.length
    val n = k
    val dp = Array.fill[Long](n + 1)(Long.MaxValue)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var l = 1
      val lMax = math.min(j, maxPieceLen)
      while (l <= lMax) {
        if (!(j == n && l == n)) { // forbid the single whole-span part
          val sub = piece.substring(off(j - l), off(j))
          val pc = cost.getOrElse(sub,
            if (l == 1) unkCost else Long.MaxValue)
          if (pc != Long.MaxValue && dp(j - l) != Long.MaxValue)
            dp(j) = math.min(dp(j), dp(j - l) + pc)
        }
        l += 1
      }
      j += 1
    }
    dp(n)
  }

  /**
   * The REAL SentencePiece learn shape (Kudo 2018 §3.2, arXiv:1804.10959):
   * seed an over-large vocabulary, then alternate hard-EM rounds with
   * LIKELIHOOD-based pruning until the multi-piece budget reaches
   * `targetSize`. Each round, over the chunk-type histogram:
   *
   *  1. E-step — Viterbi-segment every chunk type under the current
   *     costs, fold weighted piece-usage counts (corpus-sized work, one
   *     distributed aggregate; only model-sized usage collects);
   *  2. M-step — re-price the SAME piece set: cost = bitlen(usageTotal)
   *     − bitlen(n_uses), exact integers;
   *  3. Prune — for every multi-code-point piece, the likelihood LOSS of
   *     removing it is n_uses · (altSegCost − cost): its usage would
   *     re-segment at the best alternative ≥2-part price. Keep the top
   *     `keep` by (loss DESC, piece ASC in UTF-8 byte order); single code
   *     points are never pruned (coverage floor).
   *
   * The keep sizes per round come from [[emKeepLadder]], so the loop's
   * round structure is static given the parameters — the property the
   * unrolled oracle-SQL replay (q232/q233) depends on. Deviation from
   * the float original, by design: surprisal-bit integer costs and
   * one-best (hard) EM, so every round is exact cross-engine arithmetic.
   * Requires the corpus to yield a FULL seed (exactly `seedSize`
   * multi-piece candidates with freq ≥ `minCount`) — refused loudly
   * otherwise, because the ladder (and the replay) assume it.
   *
   * Returns the per-round trace; `.last.vocab` is the final model and
   * `.last.usageTotal` the total [[codecPriced]] needs to encode under it.
   */
  def learnEm(docs: DataFrame, chunkLen: Int = 6, maxPieceLen: Int = 3,
      minCount: Long = 3L, seedSize: Int = 40, targetSize: Int = 10,
      keepPermille: Int = 625): Seq[EmRound] = {
    val ladder = emKeepLadder(seedSize, targetSize, keepPermille)
    val hist = chunkHistogram(docs, chunkLen).localCheckpoint(true)
    try {
      requireNoSep(hist)
      val seed = selectVocab(hist, maxPieceLen, minCount, Seq(seedSize))(seedSize)
      val nMulti = seed.count(p => numChars(p.piece) >= 2)
      require(nMulti == seedSize,
        s"learnEm: corpus yields only $nMulti eligible multi-piece seed " +
          s"candidates, need the full seedSize=$seedSize (the prune " +
          "ladder and its oracle replay assume a full seed)")
      var vocab = seed
      var tot = seed.map(_.freq).sum
      val out = Seq.newBuilder[EmRound]
      ladder.zipWithIndex.foreach { case (keep, i) =>
        val codec = codecPriced(vocab, chunkLen, maxPieceLen, tot)
        val usage = usageOver(hist, codec)
        val newTot = usage.valuesIterator.sum
        val re = recost(vocab, usage, newTot)
        val costMap = re.iterator.map(p => p.piece -> p.cost).toMap
        val unk = bitlen(newTot) - 1L
        val (multis, singles) = re.partition(p => numChars(p.piece) >= 2)
        val ranked = multis.sortBy { p =>
          (-(p.freq * (altSegCost(p.piece, costMap, unk, maxPieceLen)
            - p.cost)), p.piece)
        }(Ordering.Tuple2(Ordering.Long, graft.llm.Bpe.utf8Ordering))
        val kept = ranked.take(keep)
        val pruned = ranked.drop(keep).map(_.piece)
          .sorted(graft.llm.Bpe.utf8Ordering)
        vocab = (singles ++ kept).sortBy(_.piece)(graft.llm.Bpe.utf8Ordering)
        tot = newTot
        out += EmRound(i + 1, newTot, pruned, vocab)
      }
      out.result()
    } finally hist.unpersist()
  }
}
