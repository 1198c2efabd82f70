package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextFunctions._

/**
 * Near-duplicate detection over `documents` (SURVEY.md §2.6) — the
 * at-scale dedup families an LLM-data pipeline needs beyond exact
 * `dropDuplicates` (graft.ops.Dedup):
 *
 *  - exact n-gram Jaccard via an inverted shingle index (ground truth);
 *  - MinHash + LSH banding (sub-quadratic candidate generation);
 *  - SimHash + byte banding (Hamming-ball candidates).
 *
 * Scale design: signatures are per-row expressions computed inside the
 * scan stage; the ONLY shuffles are (a) the explode+groupBy on shingle /
 * band / byte keys — each keyed on a single long with map-side combine —
 * and (b) the candidate self-joins, whose left/right sides are the tiny
 * banded projections, never the documents themselves. Nothing here is
 * O(n²) in documents; brute-force pairing appears only in oracles.
 */
object DedupOps {

  /**
   * Tokenization strategy for the shingle surface — HOW `text` becomes
   * the word stream every near-dup family shingles over. The shingling
   * expressions split on single spaces, so a tokenizer is a scan-stage
   * TEXT PREPROCESSOR (still codegen'd, still zero-shuffle):
   *
   *  - [[Tokenizer.Ascii]] — the raw text as-is (split-on-space). The
   *    historical default; every pre-round-14 oracle hash is over this
   *    surface, so it stays the parameter default.
   *  - [[Tokenizer.Unicode]] — [[TextFunctions.normalizeUnicode]] first
   *    (case-fold → keep \p{L}\p{N}\s → collapse whitespace). The
   *    multilingual on-ramp: under the ASCII tokenizer a CJK/Cyrillic
   *    document shingles to the EMPTY set, so Jaccard/containment/
   *    MinHash/SimHash silently find no near-dups at all on non-Latin
   *    corpora (UnicodeTextSpec pins that the Unicode tokenizer pairs
   *    exactly those clones). Non-ASCII hashing is deterministic WITHIN
   *    the engine (code-unit vs codepoint folding diverges off-BMP —
   *    TextFunctions.normalizeUnicode scaladoc); cross-engine oracles
   *    run on ASCII corpora where the two tokenizers provably coincide
   *    post-normalization.
   *
   * The span-dedup family (spanDedupStats/Apply/DupRuns) intentionally
   * stays on the raw surface: its REWRITE path reconstructs documents
   * from their word stream, which must round-trip the original text —
   * a normalized rewrite would alter the corpus it is cleaning.
   */
  final case class Tokenizer(name: String,
      prep: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
  object Tokenizer {
    val Ascii = Tokenizer("ascii", identity)
    val Unicode = Tokenizer("unicode", TextFunctions.normalizeUnicode)
    /** POSITION-PRESERVING unicode normalization: each whitespace word
      * case-folds and drops `[^\p{L}\p{N}]` IN PLACE (a word that
      * normalizes to nothing stays as an empty slot), so the prepped
      * stream's word index i is the raw stream's word index i. This is
      * the surface a REWRITE gate must fingerprint on: [[Tokenizer
      * .Unicode]]'s whitespace collapse drops emptied words and shifts
      * every later position, so spans flagged on that stream would cut
      * the WRONG raw words. Gates that only DROP documents keep using
      * Unicode (strictly better normalization); the scrub family
      * ([[winnowScrubVerified]]) takes this one. */
    val UnicodeAligned = Tokenizer("unicode_aligned", t =>
      array_join(transform(split(t, " "), w =>
        regexp_replace(lower(w), "[^\\p{L}\\p{N}]", "")), " "))
  }

  /** Column-metadata keys recording the shingle width and tokenizer a
    * precomputed `shingle_hashes` column was built with. */
  private val ShingleNKey = "graft.shingle.n"
  private val ShingleTokKey = "graft.shingle.tok"

  /** The per-doc distinct shingle-hash array: the precomputed
    * `shingle_hashes` column when the caller materialized one (see
    * [[withShingleHashes]]), else computed inline from `text`. A
    * precomputed column carrying a different shingle width or tokenizer
    * than the operator call's is rejected — silently returning n=3
    * results from an n=4 call (or ASCII shingles from a Unicode call)
    * was the trap. */
  private def shingleArr(docs: DataFrame, n: Int,
      tok: Tokenizer = Tokenizer.Ascii) =
    if (docs.columns.contains("shingle_hashes")) {
      val meta = docs.schema("shingle_hashes").metadata
      if (meta.contains(ShingleNKey)) {
        val built = meta.getLong(ShingleNKey)
        require(built == n.toLong,
          s"precomputed shingle_hashes was built with n=$built but the " +
            s"operator was called with n=$n — re-run withShingleHashes(docs, $n)")
      }
      // absent key = column predates the tokenizer knob = ASCII build
      val builtTok =
        if (meta.contains(ShingleTokKey)) meta.getString(ShingleTokKey)
        else Tokenizer.Ascii.name
      require(builtTok == tok.name,
        s"precomputed shingle_hashes was built with the '$builtTok' " +
          s"tokenizer but the operator was called with '${tok.name}' — " +
          s"re-run withShingleHashes with the matching tokenizer")
      col("shingle_hashes")
    } else shingleHashes(tok.prep(col("text")), n)

  /**
   * Precompute the per-doc distinct shingle-hash arrays ONCE, so a
   * pipeline running several dedup families over the same corpus (the
   * common curation stack: exact Jaccard audit + MinHash dedup) shares
   * a single tokenize+hash pass — `.persist()` the result and every
   * DedupOps operator picks the column up instead of recomputing. The
   * shingle width is stamped into the column metadata so a later
   * operator call with a mismatched `n` fails instead of silently using
   * the wrong width.
   */
  def withShingleHashes(docs: DataFrame, n: Int = 3,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ShingleNKey, n.toLong)
      .putString(ShingleTokKey, tok.name).build()
    docs.withColumn("shingle_hashes",
      shingleHashes(tok.prep(col("text")), n).as("shingle_hashes", meta))
  }

  /** Exploded (doc_id, shingle-hash) inverted index — the shared substrate
    * for Jaccard and MinHash verification. Distinct hashes per doc. */
  def shingleIndex(docs: DataFrame, n: Int = 3,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    docs.select(col("doc_id"), explode(shingleArr(docs, n, tok)).as("h"))

  /** Per-doc shingle-set sizes — computed per row from the array length
    * (size of the distinct-hash array), NOT by re-aggregating the
    * exploded index: one scan-stage projection, zero shuffle. */
  private[llm] def setSizes(docs: DataFrame, n: Int,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    docs.select(col("doc_id"),
      size(shingleArr(docs, n, tok)).cast("long").as("sz"))

  /** All pairs sharing >= 1 shingle, with intersection counts — the
    * inverted-index join: shuffle keyed on the shingle hash, pair volume
    * bounded by real overlap rather than n². */
  private def intersections(index: DataFrame): DataFrame =
    index.as("a")
      .join(index.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))

  /** Attach exact Jaccard = |A∩B| / |A∪B| to a pair table. */
  private def withJaccard(pairs: DataFrame, docs: DataFrame, n: Int,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val sizes = setSizes(docs, n, tok)
    pairs
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        fround(col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")).cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Exact n-gram Jaccard dedup: every pair with Jaccard >= `threshold`.
   * This is the ground-truth variant; at extreme scale prefer
   * [[minhashLshPairs]], which trades the inverted-index pair blowup for
   * banded candidates.
   *
   * `maxDf` caps shingle document frequency: a stop-shingle occurring in
   * k docs emits k(k-1)/2 pairs from that key alone, so one hot key can
   * dominate the whole job (a doc replicated 5k times is ~12.5M pairs).
   * With the cap, shingles with df > maxDf are dropped BEFORE pairing —
   * standard practice (near-dups share many shingles, so recall survives;
   * intersection counts become lower bounds for pairs that shared capped
   * shingles). Default off for exact ground-truth/oracle parity.
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDf: Option[Long] = None,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    withJaccard(intersections(cappedIndex(docs, n, maxDf, tok)), docs, n, tok)
      .filter(col("jaccard") >= threshold)

  /** [[shingleIndex]] with the optional df cap applied: df per shingle is
    * a map-side-combined count on the already-keyed hash; the semi-join
    * keeps index rows whose key survived the cap. */
  private def cappedIndex(docs: DataFrame, n: Int,
      maxDf: Option[Long], tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val index = shingleIndex(docs, n, tok)
    maxDf.fold(index) { k =>
      val keep = index.groupBy(col("h"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= k).select(col("h"))
      index.join(keep, Seq("h"), "left_semi")
    }
  }

  /**
   * Containment near-dup pairs: every pair whose SMALLER shingle set is
   * >= `threshold` contained in the intersection — C = |A∩B| / min(|A|,
   * |B|). The asymmetric companion to [[ngramJaccardPairs]]: a short
   * document quoted verbatim inside a much longer one has containment
   * ≈ 1 while its Jaccard ≈ |A|/|B| → 0, so a Jaccard threshold never
   * fires — this is the standard "subset duplicate" detector (quoted
   * posts, pages embedding a shared article, prompt+completion pairs).
   * Same inverted-index shape and `maxDf` hot-key cap as the Jaccard
   * variant; pair volume is bounded by real shingle overlap.
   */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, maxDf: Option[Long] = None,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val sizes = setSizes(docs, n, tok)
    intersections(cappedIndex(docs, n, maxDf, tok))
      .join(sizes.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(sizes.as("cb"), col("id_b") === col("cb.doc_id"))
      .withColumn("containment",
        fround(col("inter").cast("double") /
          least(col("ca.sz"), col("cb.sz")).cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /**
   * Cluster-size histogram over a [[duplicateClusters]] labeling —
   * (cluster_size, n_clusters, n_docs): how much of the corpus sits in
   * pairs, how much in k-way boilerplate families, and whether a
   * giant component exists (the one row an operator checks before
   * trusting a keep-list: a size-10⁵ cluster usually means a too-loose
   * threshold or a stop-shingle leak, not 10⁵ real duplicates).
   * Two tiny hash aggregates over the (doc_id, cluster_rep) labels —
   * the corpus itself is never touched.
   */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
   * SIGMOD 2003 — the MOSS document-fingerprinting scheme): slide a
   * window of `w` consecutive shingle hashes over the document's
   * ordered hash stream and select each window's minimum (ties → the
   * RIGHTMOST copy), recording every selected (position, hash) once.
   * The guarantee that makes it the standard plagiarism/near-dup
   * fingerprint: any shared substring of at least `n + w − 1` words
   * forces at least one IDENTICAL fingerprint in both documents, while
   * only ~2/(w+1) of positions are selected — a tunable density/recall
   * dial that MinHash (global, per-doc) does not give for LOCAL match
   * positions.
   *
   * A document with fewer than `w` shingles is one degenerate window
   * (its global rightmost min); zero shingles → no rows. Output:
   * (doc_id, pos, fp) with `pos` the 0-based shingle index. `tok`
   * selects the tokenizer surface exactly as in the whole-doc shingle
   * family ([[Tokenizer]]) — default Ascii preserves every existing
   * hash; Unicode is the multilingual on-ramp (q177).
   *
   * Implementation: the whole selection is ONE scan-stage array
   * expression — the native [[graft.functions.WinnowEncExpr]] monotonic
   * deque selects every window's rightmost min in O(n) (the HOF
   * formulation kept below as [[winnowEncHof]] was O(n·w): slice +
   * array_min + reverse + array_position per window, each an interpreted
   * lambda with fresh array copies), the (pos, fp) pair packs into a
   * single long `pos·P + fp` (exact: pos < 2⁴⁴/P rows per doc), repeated
   * selections collapse before the explode. No shuffle, no join, no
   * window function. WinnowExprSpec pins native ≡ HOF.
   */
  def winnowFingerprints(docs: DataFrame, n: Int = 3,
      w: Int = 4, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(w >= 1, s"winnow window must be >= 1 (got $w)")
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    val P = graft.llm.TextFunctions.P
    val d = docs.select(col("doc_id"),
        TextFunctions.shingleHashList(tok.prep(col("text")), n).as("hs"))
      .filter(size(col("hs")) >= 1)
    d.select(col("doc_id"),
        explode(ofExpr(graft.functions.WinnowEncExpr(
          exprOf(col("hs")), w, P))).as("enc"))
      .select(col("doc_id"),
        expr(s"enc div ${P}L").as("pos"),
        pmod(col("enc"), lit(P)).as("fp"))
  }

  /** The HOF formulation of [[winnowFingerprints]]' packed selection
    * over a shingle-hash array column — the reference the native
    * [[graft.functions.WinnowEncExpr]] is spec-pinned against. */
  private[graft] def winnowEncHof(hs: org.apache.spark.sql.Column, w: Int,
      P: Long): org.apache.spark.sql.Column = {
    val wl = least(lit(w), size(hs))
    array_distinct(transform(
      sequence(lit(0), size(hs) - wl),
      i => {
        val sl = slice(hs, i + 1, wl)
        val mn = array_min(sl)
        val pos = i.cast("long") + wl.cast("long") -
          array_position(reverse(sl), mn)
        pos * lit(P) + mn
      }))
  }

  /** Per-row array of DISTINCT winnow print VALUES of a text column —
    * the un-exploded value-set form of [[winnowFingerprints]] (positions
    * dropped: a GATE counts shared values, it does not rewrite). Pure
    * scan-stage array expression, which is what makes the streaming
    * winnow gate ([[DeconIndex.winnowProber]]) stream-static legal:
    * no explode, no aggregate, no join-back. Empty array for docs with
    * no shingles (short/null text) — the batch probe's n_shared = 0
    * convention. */
  private[llm] def winnowPrintValues(text: org.apache.spark.sql.Column,
      n: Int, w: Int,
      tok: Tokenizer = Tokenizer.Ascii): org.apache.spark.sql.Column = {
    require(w >= 1, s"winnow window must be >= 1 (got $w)")
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    val hs = TextFunctions.shingleHashList(tok.prep(text), n)
    when(size(hs) >= 1,
        ofExpr(graft.functions.WinnowValuesExpr(exprOf(hs), w)))
      .otherwise(array().cast("array<long>"))
  }

  /** The HOF formulation of [[winnowPrintValues]]' value selection over
    * a shingle-hash array column — the reference the native
    * [[graft.functions.WinnowValuesExpr]] is spec-pinned against. */
  private[graft] def winnowValuesHof(hs: org.apache.spark.sql.Column,
      w: Int): org.apache.spark.sql.Column = {
    val wl = least(lit(w), size(hs))
    array_distinct(transform(sequence(lit(0), size(hs) - wl),
      i => array_min(slice(hs, i + 1, wl))))
  }

  /**
   * MOSS-style match pairs over [[winnowFingerprints]]: documents
   * sharing at least `minShared` distinct fingerprint VALUES. The same
   * inverted-index shape as every other pair family (group the prints
   * by value, emit co-occurring doc pairs, count) with the same
   * optional `maxDf` hot-key cap — a fingerprint selected by half the
   * corpus is boilerplate, not evidence.
   */
  def winnowPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Option[Long] = None,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val prints = winnowFingerprints(docs, n, w, tok)
      .select(col("doc_id"), col("fp").as("h")).distinct()
    val idx = maxDf.fold(prints) { k =>
      val keep = prints.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= k).select("h")
      prints.join(keep, "h")
    }
    intersections(idx).filter(col("inter") >= minShared)
      .select(col("id_a"), col("id_b"), col("inter").as("n_shared"))
  }

  /**
   * MOSS-style match-SPAN extraction over [[winnowPairs]]: for every
   * matched pair, each shared fingerprint VALUE with its selected
   * positions in both documents — the evidence table a human (or a
   * span-rewrite pass) reads after the pair report says two documents
   * match: `pos` is the 0-based shingle index, so each row names an
   * n-word run at `pos_a` in one document and `pos_b` in the other that
   * hashed identically. A fingerprint selected at several positions in
   * both sides emits the full position cross-product for that value —
   * every co-location, exactly MOSS's match display.
   *
   * Scale shape: the same df-capped inverted index as the pair stage
   * (the cap applies to distinct print VALUES per doc, so a hot
   * boilerplate key the pair stage dropped can't re-inflate here), one
   * value-keyed self-join at winnow density ~2/(w+1), then a semi-join
   * against the qualified pair list so sub-`minShared` coincidences
   * never reach the output.
   */
  def winnowMatchSpans(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Option[Long] = None,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val prints = winnowFingerprints(docs, n, w, tok)
    // One winnow selection + one df-cap aggregate feed BOTH the span
    // join and the qualified-pair derivation (the checkpoint cuts the
    // shared subtree so the dominant scan/aggregate runs once, the
    // q170 discipline) — deriving pairs via winnowPairs() would re-run
    // the whole selection a second time.
    val capped = maxDf.fold(prints) { k =>
      val keep = prints.select(col("doc_id"), col("fp")).distinct()
        .groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= k).select("fp")
      prints.join(keep, "fp")
    }.localCheckpoint()
    val pairs = intersections(
        capped.select(col("doc_id"), col("fp").as("h")).distinct())
      .filter(col("inter") >= minShared)
      .select(col("id_a"), col("id_b"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.fp").as("fp"), col("a.pos").as("pos_a"),
        col("b.pos").as("pos_b"))
      .join(pairs, Seq("id_a", "id_b"), "left_semi")
  }

  /**
   * Winnowing-based decontamination — the LOCAL-match complement of the
   * whole-document ([[graft.llm.TextAnalysis]] exact/fuzzy) gates: a
   * corpus document is contaminated when it shares at least `minShared`
   * distinct winnow fingerprint VALUES with the benchmark set. Because
   * winnowing guarantees a fingerprint inside every (n+w−1)-word run
   * (Schleimer et al. 2003), a benchmark passage EMBEDDED in an
   * otherwise-novel document still collides — exactly the case the
   * per-document fingerprint gate provably misses and the n-gram-set
   * fuzzy gate only catches when the passage dominates the document.
   *
   * Shape: the benchmark's distinct prints are a broadcast build side
   * (benchmark sets are small by definition — that is what makes them
   * benchmarks); the corpus side is one scan-stage winnow selection +
   * one broadcast-join + one doc-keyed count. Winnow density ~2/(w+1)
   * of the shingle stream keeps the probe table w+1× smaller than the
   * equivalent full-shingle decon probe at the same local-match
   * guarantee.
   */
  def winnowDecontaminate(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, w: Int = 4, minShared: Long = 2L,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    winnowProbe(docs,
      winnowFingerprints(benchmark, n, w, tok).select(col("fp")).distinct(),
      n, w, minShared, tok)

  /** The probe half of [[winnowDecontaminate]] against an ALREADY
    * materialized distinct print-value set (`prints`: one `fp` column) —
    * shared by the inline gate and [[DeconIndex.probeWinnow]]'s stored
    * artifact, so the served gate cannot drift from the inline one. */
  private[llm] def winnowProbe(docs: DataFrame, prints: DataFrame,
      n: Int, w: Int, minShared: Long,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val dp = winnowFingerprints(docs, n, w, tok)
      .select(col("doc_id"), col("fp")).distinct()
    val shared = dp.join(broadcast(prints.select(col("fp"))), "fp")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.select(col("doc_id")).join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("kept", col("n_shared") < minShared)
  }

  /**
   * SURGICAL decontamination — the rewrite consumer of the winnow gate:
   * instead of dropping a contaminated document whole
   * ([[winnowDecontaminate]]'s verdict), remove the n-word runs
   * anchored at its shared print positions and keep the rest. The C4
   * span-rewrite idea applied to LEAKAGE: a long, mostly-novel document
   * that quotes one benchmark passage keeps its novel mass instead of
   * dying for the quote.
   *
   * Coverage dial: prints exist at ~2/(w+1) density, so at the default
   * w this scrubs the ANCHOR n-grams of each match (cheap, leaves
   * inter-anchor words of a long verbatim run). At `w = 1` every
   * shingle position is selected, so the scrub removes every shared
   * n-gram OF THE ORIGINAL TEXT at full probe density. Note the splice
   * itself can form NEW n-grams across cut boundaries (removing two
   * runs can butt their flanks together into a gram that happens to
   * exist in the benchmark) — one-pass scrubbing is the standard
   * trade; under an adversarial leakage model run the scrub twice, or
   * re-verify the output with [[winnowDecontaminate]]. Pick w by how
   * adversarial the leakage model is.
   *
   * Stays on the raw ASCII surface by design, like the whole span
   * family: the rewrite reconstructs documents from their word stream,
   * which must round-trip the original text — a normalized rewrite
   * would alter the corpus it is cleaning.
   *
   * Shape: benchmark prints broadcast; corpus side one scan-stage
   * winnow selection + broadcast join + per-doc start-position set
   * (bounded by the doc's own print count); the rewrite is a per-row
   * array fold — text bytes never shuffle. Output: (doc_id, n_shared,
   * n_removed, text); untouched docs pass with n_removed 0 and their
   * text byte-identical.
   */
  def winnowScrub(docs: DataFrame, benchmark: DataFrame, n: Int = 3,
      w: Int = 4, minShared: Long = 2L,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    winnowScrubAgainst(docs,
      winnowFingerprints(benchmark, n, w, tok).select(col("fp")).distinct(),
      n, w, minShared, tok)

  /** The scrub family's tokenizer contract: fingerprint positions must
    * index the RAW word stream the rewrite cuts from, so only
    * POSITION-PRESERVING preps are legal — [[Tokenizer.Unicode]]'s
    * whitespace collapse drops emptied words and would shift every
    * later cut onto the wrong raw words (use [[Tokenizer
    * .UnicodeAligned]], built for exactly this). */
  private def requirePositionPreserving(tok: Tokenizer): Unit =
    require(tok.name != Tokenizer.Unicode.name,
      "winnowScrub: Tokenizer.Unicode collapses whitespace and shifts " +
        "word positions — a scrub under it would cut the wrong raw " +
        "words; use Tokenizer.UnicodeAligned (position-preserving)")

  /** One scrub pass against an ALREADY materialized distinct benchmark
    * print-value set (`bp`: one `fp` column) — the [[winnowProbe]]
    * pattern applied to the rewrite, shared by the one-pass gate and
    * [[winnowScrubVerified]]'s fixpoint loop so the per-round pass can
    * never drift from the public operator. Fingerprints come from
    * `tok`'s surface; the rewrite always cuts the RAW word stream
    * (position-preserving preps only — see
    * [[requirePositionPreserving]]). */
  private[llm] def winnowScrubAgainst(docs: DataFrame, bp: DataFrame,
      n: Int, w: Int, minShared: Long,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    requirePositionPreserving(tok)
    val dp = winnowFingerprints(docs, n, w, tok)
    val hits = dp.join(broadcast(bp), "fp")
    val shared = hits.select(col("doc_id"), col("fp")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val starts = hits
      .join(shared.filter(col("n_shared") >= minShared).select(col("doc_id")),
        "doc_id")
      .groupBy("doc_id").agg(collect_set(col("pos")).as("starts"))
    val joined = docs.join(shared, Seq("doc_id"), "left")
      .join(starts, Seq("doc_id"), "left")
    val ws = split(col("text"), " ")
    val n1 = lit(n - 1)
    // the O(|words|·|starts|) kept-index filter — the dominant per-row
    // cost — materializes ONCE as a column; n_removed and the rewrite
    // both derive from it (Catalyst does not reliably CSE a duplicated
    // higher-order expression)
    joined
      .withColumn("_kept_idx",
        when(col("starts").isNull, lit(null))
          .otherwise(filter(sequence(lit(0), size(ws) - 1), i =>
            !exists(col("starts"), s => s <= i && i <= s + n1))))
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("_kept_idx").isNull, lit(0L))
          .otherwise(size(ws).cast("long") -
            size(col("_kept_idx")).cast("long")).as("n_removed"),
        when(col("_kept_idx").isNull, col("text"))
          .otherwise(array_join(
            transform(col("_kept_idx"), i => element_at(ws, i + 1)), " "))
          .as("text"))
  }

  /**
   * VERIFIED-clean surgical decontamination — the fixpoint closure of
   * [[winnowScrub]]'s documented splice loophole: a one-pass scrub can
   * butt the flanks of two removed runs together into a NEW n-gram that
   * happens to exist in the benchmark, so under an adversarial leakage
   * model the output of one pass is not provably clean. This operator
   * scrubs, RE-WINNOWS the rewritten text, and repeats until a full
   * pass removes nothing — at which point no output document trips the
   * `minShared` gate, by construction of the pass itself (a pass that
   * removes nothing found no qualifying shared prints). Bounded by
   * `maxRounds`; raises on non-convergence instead of returning a
   * corpus it cannot certify. Every real corpus converges fast — each
   * productive round strictly shrinks the flagged docs' word counts, so
   * rounds are bounded by the longest flagged doc — but the bound is
   * what makes an adversarial corpus fail LOUDLY.
   *
   * Scale shape: the benchmark print set materializes ONCE (checkpoint,
   * then broadcast into every round, [[winnowProbe]]'s build side).
   * Round 1 scans the whole corpus; every later round re-scrubs ONLY
   * the documents the previous round rewrote (an untouched document's
   * text did not change, so the pass that left it untouched already
   * verified it) — at any realistic contamination rate the active set
   * collapses by orders of magnitude per round, so the fixpoint costs
   * one corpus scan plus a few scans of the contaminated sliver. Rounds
   * are checkpointed: lineage stays flat, and the per-round driver
   * decision reads ONE aggregate (is the active set empty), never data.
   *
   * Output: exactly [[winnowScrub]]'s schema — (doc_id, n_shared,
   * n_removed, text) with `n_shared` the FIRST-pass evidence count and
   * `n_removed` the total across rounds. On a corpus with no splice
   * leaks (the common case) the result is row-identical to the one-pass
   * operator — which is what lets the oracle pin it.
   */
  def winnowScrubVerified(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxRounds: Int = 8, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(maxRounds >= 1, "winnowScrubVerified needs at least one round")
    val bp = winnowFingerprints(benchmark, n, w, tok)
      .select(col("fp")).distinct()
      .localCheckpoint()
    val first = winnowScrubAgainst(docs, bp, n, w, minShared, tok)
      .localCheckpoint()
    var clean = first.filter(col("n_removed") === 0L)
    var active = first.filter(col("n_removed") > 0L)
    var rounds = 1
    var converged = active.isEmpty
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val s = winnowScrubAgainst(
          active.select(col("doc_id"), col("text")), bp, n, w, minShared, tok)
        .select(col("doc_id"), col("n_removed").as("nr_k"),
          col("text").as("text_k"))
      val merged = active.join(s, "doc_id")
        .select(col("doc_id"), col("n_shared"),
          (col("n_removed") + col("nr_k")).as("n_removed"),
          col("text_k").as("text"), col("nr_k"))
        .localCheckpoint()
      clean = clean.unionByName(merged.filter(col("nr_k") === 0L)
        .select(col("doc_id"), col("n_shared"), col("n_removed"), col("text")))
      active = merged.filter(col("nr_k") > 0L)
        .select(col("doc_id"), col("n_shared"), col("n_removed"), col("text"))
      converged = active.isEmpty
    }
    if (!converged)
      throw new IllegalStateException(
        s"winnowScrubVerified: scrub did not reach a verified-clean " +
          s"fixpoint in $maxRounds rounds — adversarial splice structure; " +
          "raise maxRounds or drop the residual documents instead")
    clean
  }

  /**
   * Contamination ATTRIBUTION — [[winnowDecontaminate]] names WHICH
   * corpus documents are contaminated; this names BY WHAT: every
   * (corpus doc, benchmark doc) pair sharing at least `minShared`
   * distinct winnow fingerprint values, with the shared-print count.
   * The report an eval owner reads when a gate fires — "train doc X
   * leaks eval doc Y" is actionable (drop X, or retire Y from the
   * suite); a bare contaminated-flag is not. Note the semantics differ
   * from the gate's deliberately: the gate counts distinct values
   * shared with the benchmark's UNION print set, so a document can
   * trip the gate on prints scattered across several benchmark docs
   * while no single attribution row reaches `minShared` — run both,
   * gate first.
   *
   * Scale shape: benchmark prints broadcast (small by definition, now
   * keyed by bench doc); corpus side one scan-stage winnow selection +
   * one broadcast join + one (doc, bench)-keyed count — the corpus
   * never self-joins and never shuffles its text.
   */
  def winnowContaminationSources(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, w: Int = 4, minShared: Long = 2L,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val bp = winnowFingerprints(benchmark, n, w, tok)
      .select(col("doc_id").as("bench_id"), col("fp")).distinct()
    val dp = winnowFingerprints(docs, n, w, tok)
      .select(col("doc_id"), col("fp")).distinct()
    dp.join(broadcast(bp), "fp")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Cross-source duplicate-leakage matrix — [[dupEdges]] aggregated by
   * the source pair, canonicalized so (a, b) and (b, a) land in one row
   * (`source_a` ≤ `source_b`). The diagonal rows are ordinary intra-
   * source duplicate load; the OFF-diagonal rows are the leakage signal
   * a corpus QA pass reads first — the same content arriving through
   * two ingestion pipelines, which per-source dedup never sees and
   * which silently double-weights that content in any source-stratified
   * mixture.
   *
   * Scale shape: the pair front is [[dupEdges]]'s single df-capped
   * inverted-index pass (the dominant cost — and exactly as bounded as
   * every other consumer of it); what follows is two doc_id-keyed joins
   * of the edge list against a 2-column projection of the corpus and
   * one tiny aggregate keyed on source pairs (|sources|² rows at most).
   * The corpus text itself is never re-read past the shared pair pass.
   */
  def dupLeakageMatrix(docs: DataFrame, n: Int = 3,
      jaccThreshold: Double = 0.5, contThreshold: Double = 0.8,
      maxDf: Option[Long] = None, tok: Tokenizer = Tokenizer.Ascii,
      groupCol: String = "source"): DataFrame = {
    val src = docs.select(col("doc_id"), col(groupCol))
    dupEdges(docs, n, jaccThreshold, contThreshold, maxDf, tok)
      .join(src.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(
        least(col(s"sa.$groupCol"), col(s"sb.$groupCol")).as("source_a"),
        greatest(col(s"sa.$groupCol"), col(s"sb.$groupCol")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Jaccard ∪ containment clustering edges off ONE shared inverted-index
   * pass — the curation-v3 pair front. Running [[ngramJaccardPairs]] and
   * [[containmentPairs]] separately pays the index build and the
   * intersections shuffle (the pair stage's dominant cost) TWICE for the
   * same candidate set; both ratios are per-pair arithmetic over the
   * identical (inter, |A|, |B|) triple, so one filtered disjunction
   * yields exactly `jaccardPairs(t_j) ∪ containmentPairs(t_c)` — the set
   * the q133 oracle's `prs` CTE unions. Same `maxDf` hot-key semantics.
   */
  def dupEdges(docs: DataFrame, n: Int = 3, jaccThreshold: Double = 0.5,
      contThreshold: Double = 0.8, maxDf: Option[Long] = None,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val sizes = setSizes(docs, n, tok)
    intersections(cappedIndex(docs, n, maxDf, tok))
      .join(sizes.as("ea"), col("id_a") === col("ea.doc_id"))
      .join(sizes.as("eb"), col("id_b") === col("eb.doc_id"))
      .withColumn("jaccard",
        fround(col("inter").cast("double") /
          (col("ea.sz") + col("eb.sz") - col("inter")).cast("double"), 4))
      .withColumn("containment",
        fround(col("inter").cast("double") /
          least(col("ea.sz"), col("eb.sz")).cast("double"), 4))
      .filter(col("jaccard") >= jaccThreshold ||
        col("containment") >= contThreshold)
      .select(col("id_a"), col("id_b"))
  }

  /**
   * Edit-distance-VERIFIED near-dup pairs: MinHash-LSH candidate
   * generation (identical banding to [[minhashLshPairs]]) with the
   * verification stage swapped from set Jaccard to character-level
   * Levenshtein over a fixed-length text prefix. Set similarity is
   * order-blind — two documents built from the same shingle vocabulary
   * in different order can clear a Jaccard bar while reading as
   * different text; the edit gate measures the characters in sequence,
   * which is what "near-verbatim clone" actually means.
   *
   * Determinism: `levenshtein` with unit costs is the one classic DP
   * both engines implement identically (pinned in DedupSpec on
   * hand-computed distances); the gate is the pure-integer comparison
   * `dist·1000 div max(len_a, len_b, 1) ≤ maxDistPermille` — no floats
   * anywhere.
   *
   * Scale shape: the DP costs O(prefixLen²) per CANDIDATE pair — a
   * bounded constant (256² cells at the default) independent of
   * document length, spent only on LSH-collided pairs; the prefix is a
   * scan-stage substring projection and full text never enters the
   * pair join. `prefixLen` is the cost/recall dial: clones that
   * diverge only past the prefix gate as identical (the LSH stage
   * already vouched for global set overlap — the two signals cover
   * each other's blind side).
   */
  def editVerifiedPairs(docs: DataFrame, n: Int = 3, perms: Int = 32,
      bands: Int = 8, rowsPerBand: Int = 4, prefixLen: Int = 256,
      maxDistPermille: Long = 200L,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(bands * rowsPerBand == perms, "bands*rowsPerBand must equal perms")
    require(prefixLen >= 1, s"prefixLen must be >= 1 (got $prefixLen)")
    val banded = bandedKeys(docs, n, perms, bands, rowsPerBand, tok)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val pfx = docs.select(col("doc_id"),
      substring(tok.prep(coalesce(col("text"), lit(""))), 1, prefixLen)
        .as("pfx"))
    cand
      .join(pfx.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(pfx.as("tb"), col("id_b") === col("tb.doc_id"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta.pfx"), col("tb.pfx")).cast("long").as("edit_dist"),
        greatest(length(col("ta.pfx")), length(col("tb.pfx")), lit(1))
          .cast("long").as("max_len"))
      .withColumn("dist_permille", expr("edit_dist * 1000 div max_len"))
      .filter(col("dist_permille") <= maxDistPermille)
      .select(col("id_a"), col("id_b"), col("edit_dist"), col("dist_permille"))
  }

  /**
   * LSH candidate-front quality report: exact precision AND recall of
   * the banded MinHash candidate stage against the exact n-gram-Jaccard
   * pair ground truth, as one row of integer counts + truncating
   * permilles. The banding calculator says a (bands × rowsPerBand)
   * configuration catches a given Jaccard level with some probability —
   * this measures it on the REAL corpus, where shingle-set sizes and
   * duplicate structure decide the actual operating point. Run it at a
   * sampled scale before committing a band configuration to a 100 TB
   * pass: recall names the near-dups the front will silently miss,
   * precision names the wasted verify work per emitted candidate.
   *
   * Shape: the candidate front is the standard banded self-join; the
   * ground truth is the uncapped inverted-index pair pass (this is an
   * AUDIT query — the expensive exact front IS the referee, exactly as
   * q145 replays brute-force ANN against IVF); the comparison is one
   * pair-keyed semi-join and three 1-row aggregates, broadcast-composed.
   */
  def pairFrontQuality(docs: DataFrame, n: Int = 3, perms: Int = 32,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(bands * rowsPerBand == perms, "bands*rowsPerBand must equal perms")
    val banded = bandedKeys(docs, n, perms, bands, rowsPerBand, tok)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val truth = ngramJaccardPairs(docs, n, threshold, None, tok)
      .select(col("id_a"), col("id_b"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nCand.crossJoin(broadcast(nTruth)).crossJoin(broadcast(nHit))
      .withColumn("precision_permille",
        expr("n_hit * 1000 div greatest(n_cand, 1)"))
      .withColumn("recall_permille",
        expr("n_hit * 1000 div greatest(n_truth, 1)"))
  }

  /**
   * Dedup threshold sweep: pair volume at each Jaccard rung from ONE
   * uncapped inverted-index pass — the τ-calibration table for
   * [[ngramJaccardPairs]] (the marginal pair volume between rungs says
   * where the verbatim-clone mass ends and the shared-boilerplate tail
   * begins; picking τ by folklore instead costs either recall or a pair
   * blowup at full scale). The q153 sweep shape: each pair row explodes
   * only a projected integer against the rung ladder and the partial
   * aggregate collapses before the shuffle; the comparison is on the
   * 4-dp-rounded Jaccard recovered as an exact integer (`floor(j·10⁴ +
   * 0.5)`), so no float literal ever enters a predicate.
   */
  def dedupThresholdSweep(docs: DataFrame, n: Int = 3,
      rungsPermille: Seq[Long] = Seq(300L, 400L, 500L, 600L, 700L, 800L, 900L),
      maxDf: Option[Long] = None,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(rungsPermille.nonEmpty, "sweep needs at least one rung")
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = ngramJaccardPairs(docs, n, 0.0, maxDf, tok)
    val rungArr = array(rungsPermille.map(lit(_)): _*)
    val counted = pairs
      .select(expr("CAST(floor(jaccard * 10000 + 0.5) AS BIGINT)").as("j4"),
        explode(rungArr).as("threshold_permille"))
      .groupBy("threshold_permille")
      .agg(sum(when(col("j4") >= col("threshold_permille") * 10L, 1L)
        .otherwise(0L)).as("n_pairs"))
    // a pairless corpus must still return the FULL ladder (all zero),
    // not an empty frame a calibration consumer misreads as a failed run
    rungsPermille.toDF("threshold_permille")
      .join(counted, Seq("threshold_permille"), "left")
      .select(col("threshold_permille"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /**
   * Pair-front scorecard: every candidate detector scored against ONE
   * reference pair set — per front, its pair count, the reference's,
   * their intersection, and precision/recall as truncating permilles.
   * [[pairFrontQuality]] audits one front against one referee; this
   * lines up the whole detector family (Jaccard, containment, MinHash,
   * winnowing, ...) against a common ground truth (typically the
   * edit-verified "reads the same" set) so the corpus owner picks a
   * detector from measured operating points instead of folklore.
   *
   * Shape: per front one pair-keyed semi-join against the reference +
   * three 1-row aggregates, broadcast-composed; the fronts themselves
   * are whatever the caller built (each already df-capped/banded by its
   * own contract). Pass an already-checkpointed reference when scoring
   * many fronts — it is probed once per front.
   */
  def pairSetScorecard(fronts: Seq[(String, DataFrame)],
      reference: DataFrame): DataFrame = {
    require(fronts.nonEmpty, "pairSetScorecard needs at least one front")
    val ref = reference.select(col("id_a"), col("id_b"))
    val nRef = ref.agg(count(lit(1)).as("n_ref"))
    fronts.zipWithIndex.map { case ((name, df), i) =>
      val p = df.select(col("id_a"), col("id_b"))
      val n = p.agg(count(lit(1)).as("n_pairs"))
      val h = p.join(ref, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_common"))
      n.crossJoin(broadcast(h)).crossJoin(broadcast(nRef))
        .select(lit(i.toLong).as("front_idx"), lit(name).as("front"),
          col("n_pairs"), col("n_ref"), col("n_common"))
    }.reduce(_ unionByName _)
      .withColumn("precision_permille",
        expr("n_common * 1000 div greatest(n_pairs, 1)"))
      .withColumn("recall_permille",
        expr("n_common * 1000 div greatest(n_ref, 1)"))
  }

  /**
   * Per-document novelty vs the corpus: the share of the document's
   * DISTINCT n-shingles that occur in NO other document (df == 1 in the
   * corpus-wide shingle index). The memorization-risk / dedup-pressure
   * ranking: novelty ≈ 0‰ marks template text whose every shingle
   * recurs elsewhere (prime dedup-or-downweight candidates — exactly
   * the content an LM memorizes fastest), novelty ≈ 1000‰ marks text
   * unique to its document.
   *
   * Shape: one inverted-index pass — distinct shingles explode at scan
   * stage, df is a map-side-combined count on the hash key, one join
   * back, one per-doc integer aggregate. No pair term anywhere: unlike
   * any pair-emitting family this is affordable on EVERY document at
   * corpus scale, which makes it the cheap triage signal that decides
   * where the expensive pair passes run.
   */
  def noveltyScores(docs: DataFrame, n: Int = 3,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val idx = shingleIndex(docs, n, tok)
    val dfs = idx.groupBy("h").agg(count(lit(1)).as("df"))
    val per = idx.join(dfs, "h").groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_uq"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
        coalesce(col("n_uq"), lit(0L)).as("n_unique"))
      .withColumn("novelty_permille",
        expr("n_unique * 1000 div greatest(n_shingles, 1)"))
  }

  /**
   * Corpus-level source-overlap matrix: exact Jaccard between the
   * DISTINCT shingle SETS of every source pair. [[dupLeakageMatrix]]
   * names which DOCUMENTS leak across pipelines; this names which
   * SOURCES share raw content mass — the triage view that decides
   * which source pairs are worth a doc-level pass at all — and it
   * does so with NO pair-emitting join anywhere.
   *
   * Shape: sources get dense ids from a tiny broadcast dimension; one
   * shuffle keyed on the shingle hash folds each shingle's presence
   * set into a single ≤62-bit mask (an exact integer sum of 2^idx over
   * pre-distincted (shingle, source) rows); the masks aggregate to a
   * count table of at most 2^|sources| (in practice a few thousand)
   * rows — and every pairwise intersection/union/Jaccard is computed
   * from THAT table alone. The full shingle population is touched
   * exactly twice (distinct, mask-fold), both map-side-combinable;
   * adding sources changes only the tiny tail. Requires |sources| ≤ 62
   * (the mask bound — fails loudly, never wraps).
   */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
      tok: Tokenizer = Tokenizer.Ascii,
      groupCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Tiny dimension: dense 0-based ids in lexicographic source order.
    // The global window runs over |sources| rows — corpus-independent.
    val dim = docs.select(col(groupCol).as("src")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("src"))).cast("long") - 1L)
      .withColumn("bit",
        when(col("idx") < 62L, expr("shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))"))
          .otherwise(raise_error(concat(
            lit("sourceOverlap: more than 62 distinct sources ("),
            col("src"), lit(" has idx >= 62) — the 64-bit mask would wrap")))))
    val bySrc = shingleIndex(docs, n, tok)
      .join(docs.select(col("doc_id"), col(groupCol).as("src")), "doc_id")
      .join(broadcast(dim), "src")
      .select(col("h"), col("idx"), col("bit")).distinct()
    val mc = bySrc.groupBy("h").agg(sum(col("bit")).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    val per = dim.join(broadcast(mc),
        expr("(mask & bit) != 0"), "left")
      .groupBy(col("src"), col("idx"), col("bit"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_sh"))
    // |sources|²/2 rows: both sides of the non-equi self-join are the
    // tiny per-source table — broadcast the build side explicitly so
    // the nested-loop joins never shuffle. `mc` is bounded by the
    // number of OCCURRING masks (≤ 2^|sources|, practically far
    // smaller), so broadcasting it keeps the left-outer probe local.
    val pairs = per.select(col("src").as("src_a"), col("bit").as("bit_a"),
        col("n_sh").as("n_a"), col("idx").as("idx_a"))
      .join(broadcast(per.select(col("src").as("src_b"), col("bit").as("bit_b"),
        col("n_sh").as("n_b"), col("idx").as("idx_b"))),
        col("idx_a") < col("idx_b"))
    pairs.join(broadcast(mc),
        expr("(mask & bit_a) != 0 AND (mask & bit_b) != 0"), "left")
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_inter"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_permille",
        expr("n_inter * 1000 div greatest(n_union, 1)"))
  }

  /** MinHash signatures: (doc_id, sig array<long>) — one pass, no shuffle. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, perms: Int = 32,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    docs.select(col("doc_id"),
      minhashSig(shingleArr(docs, n, tok), perms).as("sig"))

  /**
   * MinHash + LSH: band the signature (`bands` x `rowsPerBand`), emit one
   * (band, key) row per doc per band, self-join the banded table for
   * candidates, then verify candidates with EXACT Jaccard >= `threshold`.
   * Candidate generation is sub-quadratic (only same-bucket pairs); the
   * exact verification join touches candidate pairs only.
   */
  /** (doc_id, band, key) LSH bucket rows — one per doc per band. Shared
    * by the self-join pair generator and the incremental cross-corpus
    * probe. Null-text docs emit null keys, which match nothing in an
    * equi-join — they can never pair. */
  private[llm] def bandedKeys(docs: DataFrame, n: Int, perms: Int, bands: Int,
      rowsPerBand: Int, tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    minhashSignatures(docs, n, perms, tok).select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          bandKey(col("sig"), b * rowsPerBand, rowsPerBand).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  def minhashLshPairs(docs: DataFrame, n: Int = 3, perms: Int = 32,
      bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.8, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(bands * rowsPerBand == perms, "bands*rowsPerBand must equal perms")
    val banded = bandedKeys(docs, n, perms, bands, rowsPerBand, tok)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // Verify on candidate PAIRS only: attach each side's shingle rows to
    // the pair and count matching hashes. Cost is linear — |index| +
    // |cand|·avg_set_size shuffled rows — with no document-frequency²
    // term anywhere, unlike the inverted-index `intersections` (which
    // enumerates ALL co-occurring pairs: exactly the q39 cost the banding
    // exists to avoid, quadratic on a hot shingle). The candidate subtree
    // is also referenced exactly once, so nothing is recomputed.
    val index = shingleIndex(docs, n, tok)
    val inter = cand
      .join(index.as("ia"), col("id_a") === col("ia.doc_id"))
      .join(index.as("ib"),
        col("id_b") === col("ib.doc_id") && col("ia.h") === col("ib.h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    withJaccard(inter, docs, n, tok)
      .filter(col("jaccard") >= threshold)
  }

  /** Largest primes below 2^32 — the 64-bit SimHash's per-half feature
    * moduli. At 2^32 the fold's products stay < 2^37 (int64-safe with
    * huge margin) and every hash/fingerprint stays < 2^32 < 2^53, so
    * DuckDB's double-division bit extraction remains exact — the reason
    * the 64-bit fingerprint is built from two 32-bit halves rather than
    * one 62-bit modulus (whose `h*31` would still fit int64, but whose
    * fingerprints would break the oracle's exact double arithmetic). */
  val ModLo = 4294967291L
  val ModHi = 4294967279L

  /**
   * 64-bit SimHash near-dup pairs, 4 x 16-bit bands — SCALE.md's
   * recommended widening beyond ~1e5 docs (random-collision factor
   * n²·4/2^16, 256x below the 32-bit operator's).
   *
   * The fingerprint is two independent 32-bit SimHashes (feature folds
   * mod [[ModLo]] / [[ModHi]]): bands 0-1 are the 16-bit halves of the
   * low fingerprint, bands 2-3 of the high; Hamming distance is the sum
   * over halves. By pigeonhole any pair within Hamming distance 3
   * shares at least one of the 4 bands — perfect recall for
   * maxHamming <= 3, same operator shape as [[simhashPairs]].
   */
  def simhashPairs64(docs: DataFrame, n: Int = 3,
      maxHamming: Int = 3, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val sims = docs
      .select(col("doc_id"),
        shingleHashList(tok.prep(col("text")), n, ModLo).as("flo"),
        shingleHashList(tok.prep(col("text")), n, ModHi).as("fhi"))
      .filter(size(col("flo")) > 0)
      .select(col("doc_id"),
        simhashOfHashes(col("flo"), 32).as("sh_lo"),
        simhashOfHashes(col("fhi"), 32).as("sh_hi"))
    val banded = sims.select(col("doc_id"), col("sh_lo"), col("sh_hi"),
      explode(array(
        struct(lit(0).as("band"), (col("sh_lo") % 65536L).as("key")),
        struct(lit(1).as("band"),
          floor(col("sh_lo").cast("double") / 65536.0).cast("long").as("key")),
        struct(lit(2).as("band"), (col("sh_hi") % 65536L).as("key")),
        struct(lit(3).as("band"),
          floor(col("sh_hi").cast("double") / 65536.0).cast("long").as("key"))
      )).as("bk"))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (hamming(col("a.sh_lo"), col("b.sh_lo")) +
          hamming(col("a.sh_hi"), col("b.sh_hi"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }

  /**
   * Duplicate CLUSTERS from near-dup pairs: connected components by
   * min-label propagation, labeling every involved doc with the smallest
   * doc_id reachable through the pair graph — the step between "pairs
   * found" and "keep one representative per duplicate group" that every
   * dedup pipeline ends with (keep = labels where doc_id == cluster_rep,
   * drop the rest).
   *
   * Each iteration is a neighbor-min join + aggregate (Pregel shape)
   * followed by a POINTER JUMP — every node also adopts its current
   * label's label (`l(v) ← min(l(v), l(l(v)))`), halving the remaining
   * chain depth each round — so convergence needs O(log diameter)
   * iterations, not O(diameter): measured on a 100-node path, 9 rounds
   * instead of 99 (SCALE.md). The driver loop only checks convergence,
   * never data: labels are MONOTONE NON-INCREASING per node (each step
   * takes a min that includes the node's own label), so the fixpoint is
   * reached exactly when Σlabels stops decreasing — ONE aggregate per
   * round (the same job that materializes the round's checkpoint), where
   * a changed-row count would need an extra next⋈previous join+shuffle
   * of the full label table every round. The sum rides DECIMAL(38,0):
   * exact to 1e38, far above 1e9 nodes × 1e19 max ids. `maxIter` still
   * bounds pathological graphs (2^maxIter diameter ceiling), and hitting
   * it with labels moving raises (or warns, per `failOnNonConvergence`)
   * instead of silently returning wrong representatives.
   *
   * Checkpointing: `localCheckpoint` cuts the growing lineage each round
   * (executor-memory-held — fine for label-table state, the working set
   * is one row per involved doc). The operator never sets a checkpoint
   * directory on the caller's shared SparkContext.
   */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
      failOnNonConvergence: Boolean = false): DataFrame = {
    // materialize the edge list ONCE: `pairs` is usually an expensive
    // dedup computation (shingling + banding + verification) and appears
    // in every iteration's join — without this it would re-run per round
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(eager = true)
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.withColumn("label", col("id")).localCheckpoint(eager = true)
    // cast BEFORE the sum: sum over LongType accumulates in a long buffer
    // (overflow at 1e9 nodes × large ids — ANSI throws, non-ANSI wraps and
    // could fake convergence); DECIMAL(38,0) input makes the whole
    // aggregation exact. Empty graph ⇒ sum is null ⇒ ZERO.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("label"))
        .unionAll(labels)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jump through the PREVIOUS round's labels (checkpointed →
      // lineage-distinct, so no self-join ambiguity): label values are
      // node ids and `labels` covers every node, so the join is total.
      val next = nbrMin
        .join(labels.select(col("id").as("jid"), col("label").as("jlabel")),
          nbrMin("label") === col("jid"))
        .select(nbrMin("id").as("id"),
          least(col("label"), col("jlabel")).as("label"))
        .localCheckpoint(eager = false)
      // lazy checkpoint + monotone convergence: the Σlabel aggregate both
      // materializes the round's checkpoint and detects the fixpoint
      // (labels only ever decrease, so equal sums ⇔ nothing moved) — ONE
      // job per round, no next⋈previous join.
      val newSum = labelSum(next)
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      labels = next
      i += 1
    }
    if (changed) {
      val msg = s"duplicateClusters did NOT converge after $maxIter " +
        "iterations (label sum still decreasing): some component's " +
        "diameter exceeds maxIter and its cluster_rep labels are wrong"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /**
   * The dedup pipeline's final step: drop every clustered doc except its
   * representative. `clusters` is [[duplicateClusters]] output (docs not
   * in any cluster aren't listed and are kept). The drop-list is sized by
   * the number of DROPPED docs — on a replication-heavy corpus that is a
   * large fraction of the corpus, so no forced `broadcast()` hint here: a
   * pinned hint bypasses `autoBroadcastJoinThreshold` and would OOM the
   * driver at curation scale. AQE picks broadcast on its own whenever the
   * id list is actually small (LlmSpec pins that plan at test scale).
   */
  def dedupedCorpus(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_rep")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /**
   * The production dedup stack: exact-fingerprint dedup FIRST (one hash
   * aggregate collapses every verbatim-clone cluster to its min-id row —
   * no pair term at all), then MinHash-banded near-dup dedup over the
   * survivors. Ordering is the whole point: a k-clone cluster is
   * k(k-1)/2 REAL pairs, so any pair-emitting generator is output-bound
   * on it (SCALE.md: 5k replicas cost the minhash composition 65–84 s vs
   * 2.0 s for this stack with identical output), while near-verbatim
   * dups — which exact hashing can't see — survive to the banded stage
   * that handles them sub-quadratically. Returns the kept corpus rows.
   *
   * Null-text rows BYPASS the exact-fingerprint stage and are kept
   * unconditionally (they also generate no shingles, so the near-dup
   * stage never clusters them): a null fingerprint groups with every
   * other null under both Spark's `groupBy` and SQL `GROUP BY`, which
   * would destructively collapse all unknown-content rows into one —
   * rows whose content is unknown are not verbatim clones of each
   * other. Same policy as the other gates in TextAnalysis: dropping a
   * null-text row is a filter's decision, not a dedup side effect.
   */
  def exactThenNearDedup(docs: DataFrame, n: Int = 3, perms: Int = 32,
      bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    // Exact identity is the PAIR of independent polynomial hashes (mod P
    // ≈ 2³⁰ and mod P48 ≈ 2⁴⁸) — same reasoning as spanFlags: dropping a
    // doc is destructive and a single ~30-bit hash birthday-collides at
    // corpus scale (~n²/2e9 false merges: hundreds at 1M docs). A
    // simultaneous collision in both moduli is ~2⁻⁷⁸ per pair.
    // The tokenizer reshapes BOTH stages consistently: under
    // Tokenizer.Unicode "exact" means normalized-identical (q132's
    // unicodeDupGroups semantics — case/punctuation variants collapse
    // here, in one hash aggregate, before any pair generation).
    val fpKept = exactDedup(docs, tok)
    dedupedCorpus(fpKept,
      duplicateClusters(
        minhashLshPairs(fpKept, n, perms, bands, rowsPerBand, threshold, tok)))
  }

  /**
   * Standalone exact-fingerprint dedup — the exact stage of
   * [[exactThenNearDedup]] as its own operator: verbatim clones (under
   * the tokenizer — normalized-identical for `Unicode`) collapse to
   * their min-id row via the dual (mod P, mod P48) fingerprint pair;
   * null-text rows route around untouched. One hash aggregate over
   * 16-byte fingerprints — the cheapest dedup rung, the right one when
   * a pipeline stage only needs verbatim-clone removal (e.g. between a
   * selection filter and an n-gram decontamination pass).
   */
  def exactDedup(docs: DataFrame,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val nonNull = docs.filter(col("text").isNotNull)
    val fp = dualFingerprints(nonNull, tok)
    nonNull.join(
      fp.groupBy(col("f1"), col("f2")).agg(min(col("doc_id")).as("doc_id")),
      Seq("doc_id"), "left_semi")
      .unionByName(docs.filter(col("text").isNull))
  }

  /**
   * Incremental append dedup — the daily-crawl production shape: dedup an
   * INCOMING batch against an already-curated EXISTING corpus plus
   * itself, returning only the incoming rows to append. Existing rows
   * are never dropped (append-only contract); re-running full-corpus
   * dedup on every append would re-pay the whole corpus's pair
   * generation for a batch that is a fraction of it.
   *
   * Stages mirror [[exactThenNearDedup]]:
   *  1. EXACT — incoming docs whose dual fingerprint (mod P, mod P48)
   *     already exists in the corpus are dropped; verbatim clones WITHIN
   *     the batch collapse to their min-id row. The existing side
   *     contributes only (f1, f2) pairs — 16 bytes per doc, text never
   *     shuffles.
   *  2. NEAR — MinHash-banded candidates restricted to pairs TOUCHING a
   *     surviving incoming doc: the batch side of the bucket join is
   *     small, so candidate generation costs O(batch bands + matching
   *     buckets), never a corpus self-join (at scale the corpus's banded
   *     keys would be a persisted table, like IvfIndex's inverted
   *     lists). Candidates verify with exact Jaccard; connected
   *     components over the verified pairs, then an incoming doc is
   *     dropped iff its cluster contains ANY existing doc (the corpus
   *     already holds a representative) or it is not the min-id
   *     representative of an all-incoming cluster.
   *
   * With an EMPTY existing corpus this reduces exactly to
   * [[exactThenNearDedup]] (differential-fuzzed in DedupFuzzSpec).
   * Contract: doc_ids are globally unique across existing ∪ incoming.
   * Null-text incoming rows bypass both stages and are kept; the
   * existing corpus is assumed internally deduped (its internal pairs
   * are not re-examined).
   */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame, n: Int = 3,
      perms: Int = 32, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    // One shared prepped frame feeds every existing-side projection
    // (fingerprints once — round 9 computed dualFingerprints twice —
    // plus bands, shingles, sizes). Deliberately NOT persisted: round 11
    // persisted it MEMORY_AND_DISK and q104 ran 1.8× SLOWER (9.7 s vs
    // 5.5 s at sf0.1) — the materialized shingle-hash arrays are larger
    // than the text they derive from, and the blocking persist write
    // costs more than the three independent column-pruned parquet scans
    // it saves. At real scale the right cache is [[DedupIndex]], which
    // lands these projections as parquet tables once.
    val exPrepped = withShingleHashes(
      existing.select(col("doc_id"), col("text")), n, tok)
    val exFps = dualFingerprints(exPrepped, tok)
    incrementalKeep(
      exactSurvivors(exFps.select("f1", "f2"), incoming, tok),
      existingIds = exFps.select("doc_id"),
      exBands = bandedKeys(exPrepped, n, perms, bands, rowsPerBand, tok),
      exIndex = shingleIndex(exPrepped, n, tok),
      exSizes = setSizes(exPrepped, n, tok),
      n, perms, bands, rowsPerBand, threshold, tok)
  }

  /** (doc_id, f1, f2) dual-hash exact identity of the non-null-text rows
    * — the 16-bytes-per-doc projection the incremental exact stage
    * anti-joins on (and [[DedupIndex]] persists). */
  private[llm] def dualFingerprints(df: DataFrame,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    df.filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextFunctions.polyHash(tok.prep(col("text"))).as("f1"),
        TextFunctions.polyHashMod(tok.prep(col("text")),
          graft.functions.LlmExprs.P48).as("f2"))

  /** Exact stage of the incremental pipeline: incoming minus corpus
    * fingerprint matches, within-batch clones collapsed to min id,
    * null-text rows routed around. */
  private[llm] def exactSurvivors(existingFps: DataFrame,
      incoming: DataFrame, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val fresh = dualFingerprints(incoming, tok)
      .join(existingFps.distinct(), Seq("f1", "f2"), "left_anti")
    val keepExact = fresh.groupBy(col("f1"), col("f2"))
      .agg(min(col("doc_id")).as("doc_id"))
    incoming
      .join(keepExact.select("doc_id"), Seq("doc_id"), "left_semi")
      .unionByName(incoming.filter(col("text").isNull))
  }

  /** Near stage of the incremental pipeline, parameterized over the
    * EXISTING side's derived tables so [[DedupIndex]] can feed the
    * persisted versions (bands/shingles/sizes as parquet longs — the
    * corpus text is never re-read, re-tokenized or re-hashed on append). */
  private[llm] def incrementalKeep(survivors: DataFrame,
      existingIds: DataFrame, exBands: DataFrame, exIndex: DataFrame,
      exSizes: DataFrame, n: Int, perms: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(bands * rowsPerBand == perms, "bands*rowsPerBand must equal perms")
    val newBands = bandedKeys(survivors, n, perms, bands, rowsPerBand, tok)
    val allBands = exBands.unionByName(newBands)
    // normalize to (min, max) so a new-new pair (seen from both sides)
    // and a new-old pair (seen once) land in one orientation
    val cand = newBands.as("a")
      .join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
    val allIndex = exIndex.unionByName(shingleIndex(survivors, n, tok))
    val inter = cand
      .join(allIndex.as("ia"), col("id_a") === col("ia.doc_id"))
      .join(allIndex.as("ib"),
        col("id_b") === col("ib.doc_id") && col("ia.h") === col("ib.h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val allSizes = exSizes.unionByName(setSizes(survivors, n, tok))
    val pairs = inter
      .join(allSizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(allSizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        fround(col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")).cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .filter(col("jaccard") >= threshold)

    val clusters = duplicateClusters(pairs)
    val oldReps = clusters
      .join(existingIds, Seq("doc_id"), "left_semi")
      .select(col("cluster_rep").as("old_rep")).distinct()
    val dropIds = clusters
      .join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(oldReps, col("cluster_rep") === col("old_rep"), "left")
      .filter(col("old_rep").isNotNull || col("doc_id") =!= col("cluster_rep"))
      .select("doc_id")
    survivors.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** SimHash over shingle features: (doc_id, simhash long). The word-level
    * variant saturates on small vocabularies; shingles keep the feature
    * space large enough for Hamming distance to mean something. */
  def simhashes(docs: DataFrame, n: Int = 3, bits: Int = 32,
      featureMod: Long = TextFunctions.P,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    docs.select(col("doc_id"),
      shingleHashList(tok.prep(col("text")), n, featureMod).as("feats"))
      // Docs with no features have no meaningful SimHash (all-zero votes
      // would spuriously pair every degenerate doc with every other);
      // they are excluded, matching the oracle's per-feature-row shape.
      .filter(size(col("feats")) > 0)
      .select(col("doc_id"), simhashOfHashes(col("feats"), bits).as("simhash"))

  /**
   * SimHash near-dup pairs: band the 32-bit simhash into four bytes; by
   * pigeonhole, any pair within Hamming distance 3 shares at least one
   * byte, so the byte-bucket join has perfect recall for maxHamming<=3.
   * Verification is a bit_count on the candidate pairs.
   *
   * Sizing note (measured in SCALE.md): random byte collisions admit
   * ~n²·4/256 candidates, fine to ~10^5 docs. Beyond that, widen the
   * fingerprint — a 64-bit SimHash with 4x16-bit bands divides the
   * collision factor by 256 with the identical operator shape.
   */
  /**
   * Cross-corpus span-level dedup accounting — the C4/CCNet "repeated
   * span" rule adapted to flat word streams: each document is cut into
   * consecutive NON-overlapping `width`-word spans (the trailing partial
   * span is never a candidate), each span is hashed, and every instance
   * of a span whose hash occurs more than once corpus-wide is removed
   * EXCEPT the first occurrence (minimum (doc_id, span index) — the C4
   * keep-one policy, so shared boilerplate survives exactly once in the
   * corpus). Emits per-document accounting: span counts, duplicated
   * instances, removed instances, and the token count after removal —
   * the audit table a curation pipeline thresholds on before rewriting
   * text.
   *
   * Scale shape: span hashing is a per-row array expression (scan
   * stage). The corpus-wide pass is ONE explode + groupBy on the span
   * hash — a single long key, map-side combined — yielding (count,
   * first-occurrence key) per distinct span; instances then join that
   * table back on the hash (AQE broadcasts when the duplicated-span
   * table is small, shuffles otherwise) and re-aggregate per doc_id.
   * Nothing is quadratic, and text bytes never shuffle — only
   * (hash, instance-key) longs.
   */
  /** Shared internals of the span-dedup pair: (base, flagged) where
    * `base` is (doc_id, n_words, ws) and `flagged` is one row per span
    * instance joined to its corpus-wide (cnt, first-occurrence key).
    *
    * Span identity is the PAIR of independent polynomial hashes (mod P ≈
    * 2³⁰ and mod P48 ≈ 2⁴⁸): the removal decision is destructive (unlike
    * the pair-dedup families there is no exact verify step — text never
    * shuffles), and a single 30-bit hash would birthday-collide at
    * curation scale (~5e6 false merges at 1e8 distinct spans). Colliding
    * in both moduli simultaneously is a ~2⁻⁷⁸ event per pair — zero
    * expected false removals below ~10³⁰ spans. */
  private def spanFlags(docs: DataFrame, width: Int): (DataFrame, DataFrame) = {
    require(width > 0, "width must be positive")
    // Orderable instance key: doc_id * 2^20 + span index. 2^20 spans per
    // doc at width 8 is an 8M-word document — far above any real corpus
    // doc; doc_ids stay below 2^43.
    val spanIdxBits = 1048576L
    val ws = filter(words(col("text")), w => w =!= "")
    val base = docs.select(col("doc_id"),
      size(ws).cast("long").as("n_words"), ws.as("ws"))
    // sequence(0, k) DESCENDS for k < 0, so the >= width guard is
    // load-bearing (same trap as TextAnalysis.wordGrams).
    def spanHashes(mod: Long) = when(size(col("ws")) >= width,
      transform(
        sequence(lit(0), (size(col("ws")) / width).cast("int") - 1),
        i => polyHashMod(array_join(slice(col("ws"), i * width + 1, lit(width)), " "), mod)))
      .otherwise(array().cast("array<long>"))
    // The packing is only injective while idx < 2^20 and doc_id < 2^43;
    // outside that range MIN(k) could pick the WRONG first occurrence and
    // spanDedupApply would destructively cut the wrong spans. Guard at
    // runtime (scan-stage conditional, codegen'd): fail loudly instead of
    // corrupting removal decisions.
    val docIdLimit = 1L << 43
    val spanned = base
      .select(col("doc_id"),
        posexplode(arrays_zip(spanHashes(TextFunctions.P),
          spanHashes(graft.functions.LlmExprs.P48))).as(Seq("idx", "hz")))
      .select(col("doc_id"), col("idx"),
        col("hz").getField("0").as("h"), col("hz").getField("1").as("h2"))
      .withColumn("k",
        when(col("idx") < spanIdxBits &&
            col("doc_id") >= 0 && col("doc_id") < docIdLimit,
          col("doc_id") * spanIdxBits + col("idx"))
          .otherwise(raise_error(concat_ws(" ",
            lit("spanFlags: instance-key overflow — need 0 <= doc_id < 2^43" +
              " and span idx < 2^20, got doc_id="),
            col("doc_id"), lit("idx="), col("idx")))))
    val grp = spanned.groupBy(col("h"), col("h2"))
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("first_k"))
    (base, spanned.join(grp, Seq("h", "h2")))
  }

  def spanDedupStats(docs: DataFrame, width: Int = 8): DataFrame = {
    val (base, flagged) = spanFlags(docs, width)
    val perDoc = flagged
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("cnt") > 1 && col("k") =!= col("first_k"), 1L)
          .otherwise(0L)).as("n_removed"))
    base.select(col("doc_id"), col("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_words") - lit(width.toLong) * coalesce(col("n_removed"), lit(0L)))
          .as("n_tokens_kept"))
  }

  /**
   * The rewrite half of [[spanDedupStats]]: emit each document's text
   * with every removed span instance CUT OUT (later occurrences of
   * corpus-duplicated spans; the first occurrence and the trailing
   * partial span always survive). Word positions outside complete spans
   * are untouched, so a document with no duplicated spans round-trips
   * byte-identical.
   *
   * The removed-index set per doc is a small array (duplicated spans
   * only) carried through one join; the cut itself is a positional
   * `filter` over the word array — per-row, scan-stage, no extra
   * shuffle beyond [[spanDedupStats]]'s own two.
   */
  def spanDedupApply(docs: DataFrame, width: Int = 8): DataFrame = {
    val (base, flagged) = spanFlags(docs, width)
    val removedIdx = flagged
      .filter(col("cnt") > 1 && col("k") =!= col("first_k"))
      .groupBy("doc_id").agg(collect_list(col("idx")).as("removed"))
    val rem = coalesce(col("removed"), array().cast("array<int>"))
    val nSpans = (size(col("ws")) / width).cast("int")
    val kept = filter(col("ws"), (_, i) =>
      (i >= nSpans * width) || !array_contains(rem, (i / width).cast("int")))
    base.join(removedIdx, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(kept).cast("long").as("n_tokens_kept"),
        array_join(kept, " ").as("text_clean"))
  }

  /**
   * Maximal duplicate-RUN extents — the readout [[spanDedupStats]]'s
   * per-doc counts cannot show: ADJACENT corpus-duplicated width-`width`
   * spans merged into maximal runs, one row per verbatim block —
   * (doc_id, start_word, len_words, n_spans, n_removed). A 5-span
   * boilerplate header shows up as ONE 40-word run at its position, not
   * as "5 dup spans somewhere in the doc" — which is what a curation
   * operator actually reads when deciding whether a block is a
   * removable template or load-bearing text (C4-style accounting stops
   * at counts; the extents are the actionable artifact).
   *
   * Scale shape: the only per-doc state is the duplicated-span index
   * list (already the [[spanDedupApply]] removal-set shape — bounded by
   * n_words/width, far below the 2^20 idx guard), and the
   * gap-and-islands merge is ONE scan-stage fold over that sorted
   * array — no window over spans, no second shuffle beyond the
   * groupBy(doc_id) that collects the list. `n_removed` counts the
   * run's non-first-occurrence instances (keep-first policy), so a
   * run that is boilerplate everywhere EXCEPT its canonical first
   * occurrence reads rm = n_spans, while the canonical block itself
   * reads rm < n_spans.
   */
  def spanDupRuns(docs: DataFrame, width: Int = 8): DataFrame = {
    val (_, flagged) = spanFlags(docs, width)
    val dup = flagged.filter(col("cnt") > 1)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("idx"),
        when(col("k") =!= col("first_k"), 1).otherwise(0).as("rm")))).as("ds"))
    // Gap-and-islands as one left fold: extend the last run while the
    // next duplicated span index is contiguous, else open a new run.
    // acc is a bound lambda variable, so the multiple references stay
    // one node each (unlike real child expressions — Bpe.applyMerge's
    // 4^K lesson does not apply here).
    val runs = aggregate(col("ds"),
      array().cast("array<struct<start:int,n:int,rm:int>>"),
      (acc, x) => {
        val last = element_at(acc, -1)
        when(size(acc) > 0 &&
            last.getField("start") + last.getField("n") === x.getField("idx"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("start").as("start"),
              (last.getField("n") + 1).as("n"),
              (last.getField("rm") + x.getField("rm")).as("rm")))))
          .otherwise(concat(acc, array(struct(
            x.getField("idx").as("start"), lit(1).as("n"),
            x.getField("rm").as("rm")))))
      })
    dup.select(col("doc_id"), explode(runs).as("r"))
      .select(col("doc_id"),
        (col("r.start").cast("long") * width).as("start_word"),
        (col("r.n").cast("long") * width).as("len_words"),
        col("r.n").cast("long").as("n_spans"),
        col("r.rm").cast("long").as("n_removed"))
  }

  /**
   * Variable-length exact-substring dedup (the Lee et al. 2021,
   * arXiv:2107.06499 "ExactSubstr" SHAPE, distributed): any word run of
   * length ≥ `width` that occurs more than once in the corpus is found
   * at its TRUE boundaries, not as width-aligned tiles. The fixed-tile
   * family (q86/q93/q130) misses a 50-token verbatim block whose copies
   * land at different tile phases; here every SLIDING width-window is
   * hashed, corpus-duplicated non-canonical windows mark their covered
   * word positions, and overlapping/adjacent marked windows merge into
   * maximal extents — so the 50-token block surfaces as ONE run at its
   * exact start/length, whichever phase each copy sits at.
   *
   * Keep-first policy, like the whole span family: the corpus-wide
   * minimum (doc_id, position) instance of each distinct window is
   * canonical; a block's first occurrence survives, every other copy is
   * reported (and [[spanExtentDedupApply]] removes it) in full. The
   * suffix-array machinery of the paper is replaced by the hash-join
   * shape Spark executes well: the set of removed positions is
   * IDENTICAL (any duplicated run ≥ width is a union of duplicated
   * width-windows, and no non-duplicated position is covered by one).
   *
   * Span identity is the same double-modulus hash pair as [[spanFlags]]
   * (destructive decision ⇒ 78-bit identity; see that scaladoc).
   *
   * Scale shape: sliding windows emit ~n_words rows per doc (width×
   * denser than the tile family — the price of true boundaries), each a
   * (hash, hash, key) triple of longs; the corpus-wide pass is one
   * map-side-combined groupBy on the hash pair; flagged instances
   * re-join that table (AQE broadcasts when the duplicated-window set
   * is small) and collapse per doc into a bounded extent array. Text
   * bytes never shuffle; the gap-and-islands merge is a scan-stage fold
   * over each doc's own sorted window starts.
   */
  /** Per-doc merged duplicate extents: (base, exts) where `exts` is
    * (doc_id, es: array<struct<start,end,nw>>) — start/end inclusive
    * word positions, nw = flagged windows merged into the extent. */
  private def spanExtentCore(docs: DataFrame,
      width: Int): (DataFrame, DataFrame) = {
    require(width > 0, "width must be positive")
    val spanIdxBits = 1048576L
    val docIdLimit = 1L << 43
    val ws = filter(words(col("text")), w => w =!= "")
    val base = docs.select(col("doc_id"),
      size(ws).cast("long").as("n_words"), ws.as("ws"))
    // Width-word window hashes ARE width-gram shingle hashes of the
    // non-empty word stream: re-join on single spaces and hand the whole
    // row to the native ShingleHashList loop (polyHashMod(array_join(
    // slice(ws, i+1, width), " "), mod) per window was an interpreted
    // lambda allocating the slice AND the joined string — O(n·width)
    // with two allocations per window). Hash-identical: the native loop
    // folds the same chars with the same ' ' separator (LlmExprs
    // .shingleHashesMod), and the empty-ws edge (array_join → "" splits
    // to [""]) is excluded by the same size guard as before.
    def windowHashes(mod: Long) = when(size(col("ws")) >= width,
      TextFunctions.shingleHashList(array_join(col("ws"), " "), width, mod))
      .otherwise(array().cast("array<long>"))
    val spanned = base
      .select(col("doc_id"),
        posexplode(arrays_zip(windowHashes(TextFunctions.P),
          windowHashes(graft.functions.LlmExprs.P48))).as(Seq("idx", "hz")))
      .select(col("doc_id"), col("idx"),
        col("hz").getField("0").as("h"), col("hz").getField("1").as("h2"))
      .withColumn("k",
        when(col("idx") < spanIdxBits &&
            col("doc_id") >= 0 && col("doc_id") < docIdLimit,
          col("doc_id") * spanIdxBits + col("idx"))
          .otherwise(raise_error(concat_ws(" ",
            lit("spanExtentCore: instance-key overflow — need 0 <= doc_id" +
              " < 2^43 and window idx < 2^20, got doc_id="),
            col("doc_id"), lit("idx="), col("idx")))))
    val grp = spanned.groupBy(col("h"), col("h2"))
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("first_k"))
    val flagged = spanned.join(grp, Seq("h", "h2"))
      .filter(col("cnt") > 1 && col("k") =!= col("first_k"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("idx"))).as("starts"))
    // overlap-or-adjacent merge: window at s covers words [s, s+width-1];
    // contiguous removal regions merge (s <= last.end + 1 — window ends
    // are monotone in s, so the last extent's end IS the running max)
    val exts = flagged.select(col("doc_id"),
      aggregate(col("starts"),
        array().cast("array<struct<start:int,end:int,nw:int>>"),
        (acc, s) => {
          val last = element_at(acc, -1)
          when(size(acc) > 0 && s <= last.getField("end") + 1,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(last.getField("start").as("start"),
                (s + lit(width - 1)).as("end"),
                (last.getField("nw") + 1).as("nw")))))
            .otherwise(concat(acc, array(struct(
              s.cast("int").as("start"), (s + lit(width - 1)).as("end"),
              lit(1).as("nw")))))
        }).as("es"))
    (base, exts)
  }

  /** The extents table: one row per maximal duplicated run —
    * (doc_id, start_word, len_words, n_windows). Only NON-canonical
    * copies appear (keep-first); a doc with no duplicated run ≥ width
    * emits no row. */
  def spanExtents(docs: DataFrame, width: Int = 8): DataFrame = {
    val (_, exts) = spanExtentCore(docs, width)
    exts.select(col("doc_id"), explode(col("es")).as("e"))
      .select(col("doc_id"),
        col("e.start").cast("long").as("start_word"),
        (col("e.end") - col("e.start") + 1).cast("long").as("len_words"),
        col("e.nw").cast("long").as("n_windows"))
  }

  /** The rewrite: every duplicated extent cut out at its true word
    * boundaries — (doc_id, n_tokens_kept, text_clean); docs with no
    * flagged extent round-trip byte-identical (modulo the word-stream
    * reconstruction the whole span family shares). */
  def spanExtentDedupApply(docs: DataFrame, width: Int = 8): DataFrame = {
    val (base, exts) = spanExtentCore(docs, width)
    val es = coalesce(col("es"),
      array().cast("array<struct<start:int,end:int,nw:int>>"))
    val kept = filter(col("ws"), (_, i) =>
      !exists(es, e => e.getField("start") <= i && i <= e.getField("end")))
    base.join(exts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(kept).cast("long").as("n_tokens_kept"),
        array_join(kept, " ").as("text_clean"))
  }

  def simhashPairs(docs: DataFrame, n: Int = 3, maxHamming: Int = 3,
      bits: Int = 32, featureMod: Long = TextFunctions.P,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 equal bands")
    val bandWidth = bits / 4
    val bandSize = 1L << bandWidth
    val sims = simhashes(docs, n, bits, featureMod, tok)
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"),
          (floor(col("simhash").cast("double") / math.pow(2.0, bandWidth * j))
            .cast("long") % bandSize).as("byte"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.byte").as("byte"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming(col("a.simhash"), col("b.simhash")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }
}
