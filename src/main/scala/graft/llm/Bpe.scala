package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic byte-pair-encoding: vocabulary construction by iterative
 * greedy merges over the word-TYPE histogram, and a scan-stage encoder
 * that applies the learned merges per word — so downstream budget
 * operators ([[TextAnalysis.packSequencesBy]],
 * [[TextAnalysis.mixtureSampleTokensBy]]) count REAL subword tokens
 * instead of whitespace words.
 *
 * Reference behavior: the reference counts payload sizes and whitespace
 * tokens only (`server/metrics/metrics.go:35` payload histograms); the
 * tokenizer is part of this engine's training-data surface beyond the
 * reference, shaped after the public BPE algorithm (Sennrich et al. 2016,
 * arXiv:1508.07909): learn on word types weighted by frequency, encode by
 * replaying the ordered merge list greedily left-to-right within each
 * word.
 *
 * Scale shape (the 100 TB story):
 *  - LEARN runs on the word-type histogram, not the corpus: one
 *    map-side-combined hash aggregate collapses the corpus to distinct
 *    words (≪ corpus size; bounded by vocabulary, not data volume), and
 *    every merge round after that is a job over that compact frame —
 *    adjacent-pair counts are a map-side-combined aggregate on pair keys,
 *    and only the single argmax row is collected per round (the same
 *    1-row-driver-probe pattern as the q71 Lloyd rounds). The histogram
 *    is localCheckpoint'ed so rounds never rescan the corpus.
 *  - ENCODE is a pure per-row expression (nested higher-order folds, no
 *    UDF): the K merges are baked into the expression as literals, so
 *    token counting is scan-stage — no join against a vocabulary table,
 *    no shuffle, nothing collected. A 1000-executor scan stays a scan.
 *
 * Determinism: pair counts are exact integers; the argmax tie-breaks on
 * (count DESC, lhs ASC, rhs ASC); merge application is a left fold whose
 * single-pass greedy semantics the DuckDB oracle replays with the same
 * fold (`list_reduce`) — bit-identical across engines, no floats anywhere.
 */
object Bpe {

  /** Separator between symbols in the packed tokenization string. Must
    * not occur inside any corpus word — [[learnMerges]] asserts this on
    * the word histogram (one early-exit probe over the compact frame). */
  val Sep = "~"

  /** One learned merge: at `rank`, adjacent symbol pair (lhs, rhs) —
    * weighted corpus count `cnt` — fuses into symbol `merged`. */
  final case class Merge(rank: Int, lhs: String, rhs: String,
      merged: String, cnt: Long)

  private[llm] def wordsNonEmpty(text: Column): Column =
    filter(TextFunctions.words(text), w => w =!= "")

  /**
   * Pre-tokenization mode — HOW raw text becomes the word stream the
   * learn/encode surface runs over (the [[DedupOps.Tokenizer]] pattern:
   * a scan-stage text PREPROCESSOR, codegen'd, zero-shuffle). The
   * whitespace presplit is blind on whitespace-free scripts: a CJK
   * document is ONE "word", so the word-TYPE histogram degenerates
   * toward the corpus (every sentence a distinct type — [[learnMerges]]
   * learns sentence fragments, [[mergeUtilization]]/fertility go blind).
   * [[PreTok.chunked]] caps every pre-token at `maxLen` code points —
   * on CJK text that yields bounded-length char n-gram chunks (the
   * histogram is bounded by the distinct-L-gram population, not the
   * corpus), and merges learn real multi-character tokens WITHIN chunks.
   * Compose with [[TextFunctions.normalizeUnicode]] upstream for the
   * case/punctuation-folded surface when wanted.
   *
   * `prep` rewrites the TEXT column (chunk boundaries become spaces), so
   * every existing learn/encode/count path — including the native
   * codegen'd [[graft.functions.BpeCountExpr]]/BpeTokensExpr, whose
   * per-word loop splits on spaces — works on the chunked surface
   * unchanged: `tokenCount(PreTok.chunked(L).prep(text), merges)`.
   */
  final case class PreTok(name: String, prep: Column => Column)
  object PreTok {
    val Whitespace = PreTok("whitespace", identity)
    def chunked(maxLen: Int): PreTok = {
      require(maxLen >= 1, s"chunk length must be >= 1 (got $maxLen)")
      PreTok(s"chunked:$maxLen", c => chunkText(c, maxLen))
    }
    /** Inverse of `PreTok#name` — how [[BpeIndex]] rehydrates the stored
      * mode (a vocabulary served under a different pre-tokenization than
      * it was learned on silently mis-tokenizes; the DsirIndex stored-
      * tokenizer invariant). */
    def parse(name: String): PreTok = name match {
      case "whitespace" => Whitespace
      case s if s.startsWith("chunked:") => chunked(s.drop(8).toInt)
      case other =>
        throw new IllegalArgumentException(s"unknown BPE pre-tokenization '$other'")
    }
  }

  /** Non-empty whitespace words, each split into `maxLen`-code-point
    * chunks (the last chunk of a word may be shorter) — pure per-row
    * array expression. Chunk count per word is exact integer arithmetic
    * in doubles (word lengths ≪ 2^52). */
  def chunkWords(text: Column, maxLen: Int): Column =
    flatten(transform(wordsNonEmpty(coalesce(text, lit(""))), w =>
      transform(
        sequence(lit(0),
          ceil(length(w).cast("double") / lit(maxLen.toDouble)).cast("int")
            - lit(1)),
        i => w.substr(i * lit(maxLen) + lit(1), lit(maxLen)))))

  /** The chunked surface as TEXT: [[chunkWords]] re-joined on single
    * spaces, so chunk boundaries are word boundaries for every
    * downstream split-on-space path. */
  def chunkText(text: Column, maxLen: Int): Column =
    array_join(chunkWords(text, maxLen), " ")

  /** Word-TYPE histogram: (word, cnt) over non-empty whitespace tokens.
    * The one corpus-sized aggregate in the learn path. */
  def wordHistogram(docs: DataFrame): DataFrame =
    docs.select(explode(wordsNonEmpty(coalesce(col("text"), lit(""))))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial tokenization of a word: its characters joined by [[Sep]]. */
  private def charToks(word: Column): Column =
    array_join(filter(split(word, ""), c => c =!= ""), Sep)

  /**
   * One merge applied to a packed tokenization, greedy left-to-right in
   * a single pass, as a left fold: if the accumulator's LAST symbol is
   * `lhs` and the next symbol is `rhs`, appending `rhs` directly (no
   * separator) fuses them into one `lhs+rhs` symbol; otherwise the next
   * symbol is appended behind a separator. The fold IS single-pass
   * greedy: a just-fused symbol `lhs+rhs` can never equal `lhs` (rhs is
   * non-empty), so chains never re-merge within the round — the exact
   * semantics `list_reduce` replays on the oracle side (its no-init
   * reduce seeds with the first element; the empty-string sentinel here
   * is equivalent, because no symbol is ever empty).
   *
   * CRITICAL expression-shape constraint: `toks` is referenced exactly
   * ONCE. [[encodeWord]] nests K of these folds, and Catalyst expands
   * every reference to a child expression — a version of this fold that
   * read the split array four times (slice + element_at + size) made the
   * nested encoder tree grow 4^K nodes and hung query planning outright
   * at K = 10. The sentinel-init fold keeps the tree linear in K.
   */
  def applyMerge(toks: Column, lhs: String, rhs: String): Column =
    aggregate(split(toks, Sep), lit(""),
      (acc, x) =>
        when(acc === lit(""), x)
          .when(x === lit(rhs) &&
              (acc === lit(lhs) || acc.endsWith(Sep + lhs)),
            concat(acc, x))
          .otherwise(concat(acc, lit(Sep), x)))

  /** Adjacent-pair counts over the word-type frame, weighted by word
    * frequency — a map-side-combined hash aggregate on (lhs, rhs). */
  private def pairCounts(wordToks: DataFrame): DataFrame = {
    val arr = split(col("toks"), Sep)
    wordToks.filter(size(arr) >= 2)
      .select(col("cnt"),
        explode(transform(sequence(lit(0), size(arr) - 2), i =>
          struct(element_at(arr, i + 1).as("lhs"),
            element_at(arr, i + 2).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("cnt")).as("c"))
  }

  /**
   * Learn `k` ordered merges over the word-TYPE histogram.
   *
   * DISPATCH (the production-k design): the histogram is bounded by the
   * corpus VOCABULARY, not its volume — one map-side-combined aggregate
   * collapses 100 TB of text to a few million (word, cnt) rows. When it
   * fits under `maxLocalTypes` it is collected ONCE and the entire merge
   * loop runs driver-local ([[learnMergesLocal]]) with incremental
   * pair-count maintenance — O(total deltas), no per-round Spark job. A
   * real 32k–100k-merge vocabulary as sequential distributed rounds is
   * tens of thousands of driver-coordinated jobs with the cluster idle
   * between argmaxes (≥50 ms scheduling floor each: 32k merges ≈ 30+ min
   * of pure orchestration before any compute); driver-local the same
   * learn is seconds. The distributed loop ([[learnMergesDistributed]])
   * remains the fallback for histograms that genuinely don't fit one
   * machine, announced loudly — silence would hide a 1000× slowdown.
   *
   * Both paths produce BYTE-IDENTICAL merge lists (BpeSpec pins ≡ on the
   * fixture corpus): same weighted pair counts, same (count DESC, lhs,
   * rhs) argmax under UTF-8 byte order (Spark's UTF8String/DuckDB binary
   * collation — NOT Java's UTF-16 compareTo, which diverges above the
   * BMP), same single-pass greedy merge application.
   */
  def learnMerges(docs: DataFrame, k: Int,
      checkpointEvery: Int = 4,
      maxLocalTypes: Int = 4000000): Seq[Merge] = {
    // ONE corpus scan: the histogram (bounded by vocabulary, not volume)
    // is materialized on the EXECUTORS first, so the size probe below is
    // an executor-side limit+count — the driver holds zero rows until
    // the dispatch decision is made. Collecting head(maxLocalTypes + 1)
    // straight away would ship up to 4,000,001 rows to the driver even
    // when the distributed fallback then discards them (and sizes the
    // required driver heap by the PROBE, not the chosen path: ~maxLocal
    // Types × (avg word bytes + 24) ≈ 200–400 MB at the 4M default —
    // see SCALE.md "BPE driver memory").
    val hist = wordHistogram(docs).localCheckpoint(true)
    if (histogramFits(hist, maxLocalTypes))
      learnMergesLocal(
        hist.collect().map(r => (r.getString(0), r.getLong(1))), k)
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Bpe.learnMerges: word-type histogram exceeds maxLocalTypes=" +
          s"$maxLocalTypes — falling back to the O(k)-sequential-jobs " +
          "distributed loop; expect k scheduling round-trips")
      learnMergesDistributedHist(hist, k, checkpointEvery)
    }
  }

  /**
   * The distributed merge loop. Each round: pair counts over the
   * word-type frame, ONE argmax row collected (count DESC, lhs, rhs),
   * the merge folded into every word's tokenization. Stops early if no
   * adjacent pair remains (every word fully fused). `checkpointEvery`
   * bounds the lineage of the iterated frame exactly like
   * duplicateClusters' rounds. O(k) sequential jobs — the scale path
   * only when the histogram can't be collected ([[learnMerges]]).
   */
  /** The dispatch predicate: does the word-type histogram fit the
    * driver-local learner? An executor-side limit+count — exactly
    * maxLocalTypes rows still fit (boundary inclusive); the driver
    * receives one long either way. */
  private[graft] def histogramFits(hist: DataFrame,
      maxLocalTypes: Int): Boolean =
    hist.limit(maxLocalTypes + 1).count() <= maxLocalTypes

  private[graft] def learnMergesDistributed(docs: DataFrame, k: Int,
      checkpointEvery: Int = 4): Seq[Merge] =
    learnMergesDistributedHist(wordHistogram(docs), k, checkpointEvery)

  /** [[learnMergesDistributed]] body over an already-computed (possibly
    * already-materialized) histogram frame, so [[learnMerges]]'s
    * dispatch probe and the fallback loop share one corpus scan. */
  private def learnMergesDistributedHist(hist: DataFrame, k: Int,
      checkpointEvery: Int): Seq[Merge] = {
    var cur = hist
      .withColumn("toks", charToks(col("word")))
      .localCheckpoint()
    require(cur.filter(col("word").contains(Sep)).head(1).isEmpty,
      s"BPE separator '$Sep' occurs inside a corpus word")
    val out = Vector.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      pairCounts(cur)
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect() match {
        case Array(row) =>
          val (lhs, rhs) = (row.getString(0), row.getString(1))
          out += Merge(r, lhs, rhs, lhs + rhs, row.getLong(2))
          cur = cur.withColumn("toks", applyMerge(col("toks"), lhs, rhs))
          if (r % checkpointEvery == 0) cur = cur.localCheckpoint()
          r += 1
        case _ => exhausted = true
      }
    }
    out.result()
  }

  /** UTF-8 byte order on strings — the order Spark's UTF8String binary
    * compare (and DuckDB's default collation) sorts by. Java's
    * `String.compareTo` orders UTF-16 code units instead, which ranks
    * supplementary-plane text (surrogates 0xD800–0xDFFF) BELOW
    * U+E000–U+FFFF — the local argmax must not diverge from the
    * distributed one on a non-BMP corpus. */
  private[graft] val utf8Ordering: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    var r = 0
    while (r == 0 && i < n) {
      r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
  }

  /**
   * Driver-local merge learn over a collected word-TYPE histogram —
   * semantics ≡ [[learnMergesDistributed]], cost O(k log k + total
   * pair-count deltas) instead of O(k) cluster round-trips.
   *
   * Incremental maintenance (the standard Sennrich-et-al learn shape):
   * exact pair counts live in a hash map; a pair → word-ids index
   * restricts each merge's re-tokenization to the words that CONTAIN the
   * pair; the argmax comes from a lazy-deletion max-heap — every count
   * change pushes a fresh (count, lhs, rhs) entry, and stale entries are
   * discarded on pop by checking against the live map. Tie-break and
   * merge application match the distributed loop exactly: (count DESC,
   * lhs ASC, rhs ASC) under [[utf8Ordering]]; single-pass greedy
   * left-to-right fusion; initial tokens are CODE POINTS (Java regex
   * `split("")` never splits a surrogate pair, so the distributed
   * char-split is code-point granular too).
   */
  private[graft] def learnMergesLocal(hist: Array[(String, Long)],
      k: Int): Seq[Merge] = {
    import scala.collection.mutable
    require(!hist.exists(_._1.contains(Sep)),
      s"BPE separator '$Sep' occurs inside a corpus word")
    val toks: Array[Array[String]] = hist.map(_._1.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))))
    val cnts: Array[Long] = hist.map(_._2)

    val stats = mutable.HashMap.empty[(String, String), Long]
    // pair → word ids that contain it, APPEND-ONLY with duplicates
    // (deduped at consume time): a per-pair bitmap over word ids costs
    // |types|/8 bytes PER PAIR — 62 KB each at 500k types, fatal at
    // production merge counts — while the buffer's total size is
    // bounded by the total number of pair-count updates.
    val index = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    // max-heap: highest count first, then SMALLEST (lhs, rhs) in UTF-8 order
    val heapOrd: Ordering[(Long, String, String)] =
      (a: (Long, String, String), b: (Long, String, String)) => {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = utf8Ordering.compare(b._2, a._2)
          if (l != 0) l else utf8Ordering.compare(b._3, a._3)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)

    def bump(p: (String, String), delta: Long, wordId: Int): Unit = {
      val n = stats.getOrElse(p, 0L) + delta
      if (n <= 0L) { stats.remove(p); return }
      stats(p) = n
      if (delta > 0 && wordId >= 0)
        index.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += wordId
      heap.enqueue((n, p._1, p._2))
    }
    // initial build: accumulate counts and the membership index first,
    // then seed the heap with ONE entry per distinct pair — enqueueing
    // per occurrence (every intermediate cumulative value) would push
    // |total tokens| stale tuples before the first merge
    var w = 0
    while (w < toks.length) {
      val t = toks(w)
      var i = 0
      while (i + 1 < t.length) {
        val p = (t(i), t(i + 1))
        stats(p) = stats.getOrElse(p, 0L) + cnts(w)
        index.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += w
        i += 1
      }
      w += 1
    }
    stats.foreach { case ((l, r), n) => heap.enqueue((n, l, r)) }

    // single-pass greedy fusion — [[applyMerge]]'s fold, imperative
    def fuse(t: Array[String], lhs: String, rhs: String,
        merged: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == lhs && t(i + 1) == rhs) {
          out += merged; i += 2
        } else { out += t(i); i += 1 }
      }
      out.result()
    }

    val out = Vector.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      // pop until an entry matches the live count for its pair
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (stats.get((e._2, e._3)).contains(e._1)) top = Some(e)
      }
      top match {
        case None => exhausted = true
        case Some((cnt, lhs, rhs)) =>
          val merged = lhs + rhs
          out += Merge(r, lhs, rhs, merged, cnt)
          val members = index.remove((lhs, rhs))
            .getOrElse(mutable.ArrayBuffer.empty[Int])
          stats.remove((lhs, rhs))
          val seen = new java.util.HashSet[Integer](members.size * 2)
          members.foreach { wid =>
            if (seen.add(wid)) {
              val old = toks(wid)
              val neu = fuse(old, lhs, rhs, merged)
              if (neu.length != old.length) {
                var i = 0
                while (i + 1 < old.length) {
                  bump((old(i), old(i + 1)), -cnts(wid), -1); i += 1
                }
                i = 0
                while (i + 1 < neu.length) {
                  bump((neu(i), neu(i + 1)), cnts(wid), wid); i += 1
                }
                toks(wid) = neu
              }
            }
          }
          r += 1
      }
    }
    out.result()
  }

  /** [[learnMerges]] as a DataFrame (rank, lhs, rhs, merged, cnt) — the
    * registry-facing vocabulary table. */
  def learnBpe(docs: DataFrame, k: Int): DataFrame = {
    val ms = learnMerges(docs, k)
    docs.sparkSession.createDataFrame(ms)
      .select(col("rank"), col("lhs"), col("rhs"), col("merged"), col("cnt"))
  }

  /** Packed tokenization of one word after the ordered merges — the
    * merge list is baked in as literals (scan-stage, no join). */
  def encodeWord(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(charToks(word)) { (t, m) => applyMerge(t, m.lhs, m.rhs) }

  /** Real token count of a document under the learned merges — a pure
    * per-row expression, evaluated by the native
    * [[graft.functions.BpeCountExpr]] (one tight codegen'd loop; the
    * K-nested HOF formulation costs ~4 s per sf0.1 evaluation — it was
    * the entire q109/q110 budget-pass cost). [[tokenCountHof]] keeps the
    * fold formulation for the ≡ spec pin. */
  def tokenCount(text: Column, merges: Seq[Merge]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    ofExpr(graft.functions.BpeCountExpr(
      exprOf(coalesce(text, lit(""))), merges.map(m => (m.lhs, m.rhs))))
  }

  /** The higher-order-function formulation of [[tokenCount]] (outer fold
    * over words, inner folds per merge) — semantically identical,
    * BpeSpec-pinned ≡ the native expression. */
  private[graft] def tokenCountHof(text: Column, merges: Seq[Merge]): Column =
    aggregate(wordsNonEmpty(coalesce(text, lit(""))), lit(0L),
      (acc, w) => acc +
        size(split(encodeWord(w, merges), Sep)).cast("long"))

  /** The document's full token stream (document order, multiplicity
    * kept) as ONE native array expression ([[graft.functions
    * .BpeTokensExpr]] — the collecting sibling of [[tokenCount]]'s
    * counter; both share one per-word loop). The HOF formulation below
    * is the ≡ spec pin; interpreted it cost ~4.5 s per sf0.1 pass. */
  def tokens(text: Column, merges: Seq[Merge]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    ofExpr(graft.functions.BpeTokensExpr(
      exprOf(coalesce(text, lit(""))), merges.map(m => (m.lhs, m.rhs))))
  }

  /** Exploded token stream (doc_id, pos, token) in document order — the
    * long-format encoder output downstream featurizers consume. */
  def encodeTokens(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    docs.select(col("doc_id"),
      posexplode(tokens(col("text"), merges)))
      .toDF("doc_id", "pos", "token")

  /** The higher-order-function formulation of [[encodeTokens]] (outer
    * transform over words, K nested folds per word) — semantically
    * identical, BpeSpec-pinned ≡ the native expression. */
  private[graft] def encodeTokensHof(docs: DataFrame,
      merges: Seq[Merge]): DataFrame =
    docs.select(col("doc_id"),
      posexplode(flatten(transform(
        wordsNonEmpty(coalesce(col("text"), lit(""))),
        w => split(encodeWord(w, merges), Sep)))))
      .toDF("doc_id", "pos", "token")

  /** Per-word packed tokenizations in document order — the
    * boundary-PRESERVING encoder output that [[decode]] inverts. The
    * flat stream ([[tokens]] / [[encodeTokens]]) deliberately drops word
    * boundaries (downstream featurizers consume a token sequence, the
    * standard export shape); this form keeps each word's packed
    * `[[Sep]]`-separated tokenization as one element, so the document is
    * reconstructible. Scan-stage like every encode path. */
  def encodeWords(text: Column, merges: Seq[Merge]): Column =
    transform(wordsNonEmpty(coalesce(text, lit(""))),
      w => encodeWord(w, merges))

  /** Inverse of [[encodeWords]]: strip each word's intra-word
    * separators, re-join words with single spaces. `decode ∘
    * encodeWords ≡` the document's space-joined non-empty words — the
    * tokenizer roundtrip. Merge application only MOVES separators
    * (never characters), so any failure of this identity localizes to
    * the artifact boundary: a drifted/torn stored vocabulary, or a
    * native-expression encode loop that dropped or reordered content —
    * exactly what the q144 registry check and the BpeSpec roundtrip pin
    * (incl. non-BMP text) watch for. [[Sep]] is a single char, so the
    * strip is a codegen'd `translate`. */
  def decode(encoded: Column): Column =
    array_join(transform(encoded, p => translate(p, Sep, "")), " ")

  /**
   * Merge (vocabulary) utilization on a corpus: per learned merge, how
   * many tokens of the encoded stream ARE that merge's output symbol,
   * plus its share of the whole stream in truncating permille. A merge
   * whose `n_uses` reads 0 is a dead vocabulary entry on this corpus —
   * its pair was always absorbed by a later, larger merge — which is
   * the tokenizer-sizing signal next to coverage (how much mass the top
   * slots carry) and fertility (tokens per word): coverage and
   * fertility say whether the vocabulary is big enough; this says
   * whether the slots already spent are EARNING anything.
   *
   * Scale shape: the count runs over the word-TYPE histogram, never the
   * corpus stream — each distinct word encodes once and contributes its
   * corpus count to every token it splits into (the [[tokenCount]]
   * pattern), so the one corpus-sized aggregate is the histogram build;
   * the token-count table (one row per distinct token) is broadcast
   * into the `merges.size`-row vocabulary, which stays the preserved
   * side of the left join.
   */
  def mergeUtilization(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = merges.map(m => (m.rank.toLong, m.merged))
      .toDF("rank", "tok")
    val counts = wordHistogram(docs)
      .select(col("cnt"),
        explode(split(encodeWord(col("word"), merges), Sep)).as("tok"))
      .groupBy("tok").agg(sum(col("cnt")).as("n_uses"))
    val tot = counts.agg(coalesce(sum(col("n_uses")), lit(0L)).as("t"))
    vocab.join(broadcast(counts), Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("tok"),
        coalesce(col("n_uses"), lit(0L)).as("n_uses"),
        expr("coalesce(n_uses, 0) * 1000 div greatest(t, 1)")
          .as("stream_permille"))
  }
}
