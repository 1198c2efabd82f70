package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import DedupOps.Tokenizer

/**
 * Sparse lexical retrieval over the `documents` table: TF-IDF term
 * weighting and BM25 ranking — the keyword-search half of a curation
 * stack (the dense half is [[SimilaritySearch]]). The reference exposes
 * ad-hoc SQL over its landed table (README §"Querying with Presto");
 * these are the standard scoring operators such a SQL surface feeds.
 *
 * Plan shape at 100 TB: term frequencies are one explode + partial-agg
 * (map-side combined); document frequencies aggregate the (doc, term)
 * pairs a second time. The tf↔df join shuffles on `term` with NO forced
 * broadcast — a web-scale vocabulary is itself huge, and AQE broadcasts
 * on its own whenever the df side is actually small. Corpus-level
 * scalars (N, avgdl) ride a broadcast one-row cross join, never a
 * driver collect.
 *
 * Determinism: the checked oracles use the RATIONAL idf forms
 * (`(N+1)/(df+1)`, `(N-df+1/2)/(df+1/2)`) because `ln` is not
 * bit-identical between the JVM and C libm (measured: 7 of 5500
 * idf-shaped inputs differ in the last ulp — enough to flip a
 * rank-order hash). `logIdf = true` (the default, standard BM25/TF-IDF)
 * applies `ln` to the same rational; CurationSpec certifies it three
 * ways: per-row, the log score equals `tf · ln(rational)` recomputed
 * from the same (tf, df, N) (bit-exact — one JVM, and Spark's `log`
 * evaluates `StrictMath.log`, which the spec mirrors); for a
 * SINGLE-term query on a term with df < N/2 (idf > 1, so `ln(idf)` is
 * a positive constant scale) the two forms produce the identical
 * ranking; and for a term in MORE than half the documents the log
 * form's scores go negative (the classic BM25 negative-idf regime —
 * the log compression is a genuinely different scoring model there,
 * not a rounding detail). Multi-term rankings likewise legitimately
 * differ between the compressions — which is exactly why the
 * hash-checked registry queries fix `logIdf = false`.
 */
object Retrieval {

  /** (doc_id, term, tf) — whitespace tokens, exact counts. The
    * [[DedupOps.Tokenizer]] knob is the SELECTION stack's multilingual
    * on-ramp (same contract as the dedup family): `Ascii` (default) is
    * the raw split-on-space surface every pre-round-15 oracle hash is
    * over; `Unicode` normalizes first, so stopword/word-length/term
    * statistics stop degenerating on non-Latin text. Still a scan-stage
    * text preprocessor — codegen'd, zero-shuffle. */
  def termCounts(docs: DataFrame,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    docs.select(col("doc_id"),
      explode(filter(TextFunctions.words(tok.prep(col("text"))),
        w => w =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (term, df) — number of distinct documents containing the term.
    * Derived from [[termCounts]] output, where (doc, term) is unique, so
    * a plain count IS the distinct-doc count (no Expand-based distinct). */
  def docFrequencies(tc: DataFrame): DataFrame =
    tc.groupBy("term").agg(count(lit(1)).as("df"))

  /** `(N+1)/(df+1)` — the smoothed inverse document frequency, optionally
    * log-compressed (standard TF-IDF). Both operands cast before the one
    * division so the oracle mirror is bit-identical. */
  private def idfOf(nDocs: Column, df: Column, logIdf: Boolean): Column = {
    val r = (nDocs.cast("double") + lit(1.0)) / (df.cast("double") + lit(1.0))
    if (logIdf) log(r) else r
  }

  /**
   * Per-(doc, term) TF-IDF scores: (doc_id, term, tf, df, tfidf).
   * `logIdf = false` selects the rational idf the hash-checked oracle
   * mirrors (see object scaladoc).
   */
  def tfIdf(docs: DataFrame, logIdf: Boolean = true,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val tc = termCounts(docs, tok)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tc.join(docFrequencies(tc), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          idfOf(col("n_docs"), col("df"), logIdf)).as("tfidf"))
  }

  /** Top-`k` TF-IDF terms per document (rank ties broken by term). */
  def tfIdfTopTerms(docs: DataFrame, k: Int, logIdf: Boolean = true,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    Ranking.within(tfIdf(docs, logIdf, tok), "doc_id",
      Seq(col("tfidf").desc, col("term")), k)

  /**
   * Topic labels for embedding clusters — the "what is actually IN my
   * corpus" view: every document's embedding is assigned to its
   * nearest IVF cell (the [[SimilaritySearch]] scan-stage fold over a
   * broadcast centroid table), and each cell is labeled with its `k`
   * most DISTINCTIVE terms — cell term mass over corpus document
   * frequency, as the exact integer `tf_cell · 10⁶ div df` (frequent
   * inside the cluster, rare outside; a plain tf top-k would label
   * every cluster with stopwords).
   *
   * Scale shape: term counts are the one explode + map-side-combined
   * aggregate every retrieval op shares; the cell join adds one
   * doc_id-keyed shuffle of 2-column rows. The ranking window
   * partitions on CELL — few, large groups — so the `minTf` gate
   * (cluster terms of interest recur; tf 1–2 is noise by definition)
   * cuts the per-cell candidate set before any window sees it; raise
   * it with corpus size (it is the same df-style dial as DedupDfCap).
   */
  def clusterTopTerms(docs: DataFrame, embeddings: DataFrame,
      nCells: Int = 16, k: Int = 5, minTf: Long = 2L): DataFrame = {
    val cents = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cvec"))
    val cellOf = SimilaritySearch.assignCells(embeddings, cents)
      .select(col("vec_id").as("doc_id"), col("cell").as("cell_id"))
    val tc = termCounts(docs)
    val cellTf = tc.join(cellOf, "doc_id")
      .groupBy("cell_id", "term").agg(sum(col("tf")).as("tf"))
    val scoredTerms = cellTf.join(docFrequencies(tc), "term")
      .filter(col("tf") >= minTf)
      .withColumn("score", expr("tf * 1000000 div df"))
    Ranking.within(scoredTerms, "cell_id", Seq(col("score").desc, col("term")),
        k, longRank = true)
      .select(col("cell_id").cast("long").as("cell_id"), col("rank"),
        col("term"), col("tf"), col("df"), col("score"))
  }

  /**
   * BM25 document scores for a fixed bag of query terms:
   * (doc_id, score), one row per document matching at least one term.
   *
   * score = Σ_t idf(t) · (tf·(k1+1)) / (tf + k1·(1−b + b·dl/avgdl))
   *
   * The per-term partial scores are summed as one conditional aggregate
   * per query-term position and then added LEFT-TO-RIGHT — `x + 0.0 ≡ x`
   * in IEEE arithmetic, so the conditional sums are order-free and the
   * final in-order add chain is the only float reduction, identical on
   * both engines.
   */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, logIdf: Boolean = true,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val c1 = k1 + 1.0
    val c2 = 1.0 - b
    val tc = termCounts(docs, tok).filter(col("term").isin(queryTerms: _*))
    val dfs = docFrequencies(tc)
    val dl = docs.select(col("doc_id"),
      size(filter(TextFunctions.words(tok.prep(col("text"))), w => w =!= ""))
        .cast("long").as("dl"))
    // one broadcast row: corpus size and mean doc length (exact integer
    // sum, ONE division)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val idf = {
      val nD = col("n_docs").cast("double")
      val dfD = col("df").cast("double")
      val r = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
      if (logIdf) log(r) else r
    }
    val scored = tc.join(dfs, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (idf * (col("tf").cast("double") * lit(c1)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(c2) + lit(b) * col("dl").cast("double") / col("avgdl"))))
          .as("s"))
    // per-position conditional sums (order-free: all other rows add 0.0),
    // then an in-order left-to-right chain across positions
    val partials = queryTerms.indices.map(i =>
      sum(when(col("term") === queryTerms(i), col("s")).otherwise(lit(0.0)))
        .as(s"s_$i"))
    val agged = scored.groupBy("doc_id").agg(partials.head, partials.tail: _*)
    val score = queryTerms.indices.map(i => col(s"s_$i")).reduceLeft(_ + _)
    agged.select(col("doc_id"), score.as("score"))
  }

  /**
   * Unigram-LM rarity scoring — the deterministic perplexity proxy for
   * quality bucketing: train a unigram model on the corpus itself
   * (global term counts) and score each document by the mean
   * information content of its tokens. True −log₂ p(w) is transcendental
   * and not bit-portable across engines, so the per-token surprisal is
   * the INTEGER bit-length proxy `bitlen(total) − bitlen(count(w))`
   * (= ⌊log₂ total⌋ − ⌊log₂ cnt⌋ within ±1 bit of −log₂ p) — exact
   * integer arithmetic on both engines via `length(bin(x))`. Documents
   * full of rare tokens score high (the gibberish/OCR-noise tail);
   * documents of pure stopwords score near the minimum (the boilerplate
   * tail); both ends get cut before training.
   *
   * Scale shape: term counts are one explode + partial agg; the vocab
   * table aggregates those pairs again on `term` (map-side combined);
   * the tf↔vocab join shuffles on `term` with NO forced broadcast (a
   * web-scale vocabulary is huge; AQE broadcasts when it is actually
   * small); the corpus total rides one broadcast row. The per-doc
   * re-aggregation is an integer sum — order-free, oracle-exact.
   */
  def unigramRarity(docs: DataFrame,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val tc = termCounts(docs, tok)
    val vocab = tc.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("total"))
    val scored = tc.join(vocab, "term")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") *
          (length(bin(col("total"))) - length(bin(col("cnt")))).cast("long"))
          .as("rarity_bits"))
    // token-less documents (empty/whitespace text — a junk class a quality
    // gate must SEE, not silently pass) emit (0, 0, 0.0) instead of
    // vanishing through the inner join; the division is guarded — under
    // ANSI (Spark 4's default) 0/0 throws rather than nulling out.
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("rarity_bits"), lit(0L)).as("rarity_bits"),
        when(col("n_tokens") > 0,
          TextFunctions.fround(
            col("rarity_bits").cast("double") / col("n_tokens").cast("double"), 4))
          .otherwise(lit(0.0)).as("avg_rarity"))
  }

  /**
   * Exact corpus-wide heavy hitters: the top-`k` terms by total
   * occurrence count, rank ties broken by term. The frequency table is
   * one explode + two-level map-side-combined agg; the global top-k is
   * a sort-limit (TakeOrderedAndProject, per-partition heaps); the rank
   * window sees only `k` rows. The exact path shuffles the full vocab
   * once — fine while the vocabulary fits a shuffle, which even web
   * corpora usually do; [[heavyHitterTermsSketch]] is the fixed-memory
   * alternative when it doesn't.
   */
  def heavyHitterTerms(docs: DataFrame, k: Int): DataFrame =
    Ranking.global(termCounts(docs).groupBy("term").agg(sum(col("tf")).as("cnt")),
      Seq(col("cnt").desc, col("term")), k)

  /**
   * Sketch-based heavy hitters via `approx_top_k` (DataSketches
   * frequent-items): each partition tracks at most `maxTracked` items in
   * fixed memory, partial sketches merge once — no full-vocabulary
   * shuffle, the at-scale shape when the term domain itself is huge
   * (URLs, n-grams, user ids). Guarantee: any item with true count
   * > N/maxTracked is present, with estimate error ≤ N/maxTracked.
   *
   * Determinism boundary: the sketch's own top-k cut breaks count ties
   * arbitrarily, so the full tracked set is pulled (`k = maxTracked`)
   * and the top-k cut happens AFTER an explicit (cnt desc, term)
   * re-rank. When `maxTracked` ≥ the distinct-item count the sketch
   * never evicts, every estimate is the EXACT count, and the result
   * equals [[heavyHitterTerms]] — the regime the hash-checked oracle
   * runs in. With `maxTracked` below the domain size, estimates carry
   * bounded error — CorpusOpsSpec pins the subset/error guarantees for
   * that regime instead.
   */
  def heavyHitterTermsSketch(docs: DataFrame, k: Int,
      maxTracked: Int = 4096): DataFrame =
    Ranking.global(
      docs.select(explode(filter(TextFunctions.words(col("text")), x => x =!= ""))
          .as("term"))
        .agg(expr(s"approx_top_k(term, $maxTracked, $maxTracked)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("term"), col("e.count").as("cnt")),
      Seq(col("cnt").desc, col("term")), k)

  /**
   * Collocation mining — top adjacent word pairs by PMI-style LIFT:
   * `(c_xy · N) / (c_x · c_y)`, where c_xy counts the bigram, c_x/c_y
   * the unigrams and N the corpus token total. Lift > 1 means the pair
   * co-occurs more than independence predicts — the phrase-mining step
   * of tokenizer-vocabulary construction (merge candidates for BPE-style
   * vocabularies are exactly the high-lift adjacent pairs). `minCount`
   * suppresses the unstable low-frequency tail, the standard PMI fix.
   *
   * Determinism: the score is one IEEE multiply+divide over exact
   * integer counts — the same rational-score recipe as tfIdf's
   * `logIdf = false` mode (log-PMI itself is not bit-portable across
   * engines, and log is monotone so the RANKING is identical). Ties
   * break on (w1, w2).
   *
   * Scale shape: unigram and bigram counts are map-side-combined hash
   * aggregates on term keys; the count joins are term-keyed equi-joins;
   * N rides one broadcast row; the global top-k compiles to
   * TakeOrderedAndProject (per-partition heaps — the final rank window
   * runs over k rows only).
   */
  def collocationsTopK(docs: DataFrame, k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    val toks = docs.select(
      filter(TextFunctions.words(col("text")), w => w =!= "").as("ws"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n_tokens"))
    val pairs = toks.filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2), i =>
        struct(element_at(col("ws"), i + 1).as("w1"),
          element_at(col("ws"), i + 2).as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val scored = pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        TextFunctions.fround(
          (col("c_xy").cast("double") * col("n_tokens").cast("double")) /
            (col("c_x").cast("double") * col("c_y").cast("double")), 4)
          .as("lift"))
    Ranking.global(scored, Seq(col("lift").desc, col("w1"), col("w2")), k)
  }

  /** Top-`k` BM25 documents (ties broken by doc_id). The global top-k is
    * a sort-limit (TakeOrderedAndProject — per-partition heaps, no global
    * sort); the single-partition rank window only ever sees `k` rows. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, logIdf: Boolean = true,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    Ranking.global(bm25(docs, queryTerms, k1, b, logIdf, tok),
      Seq(col("score").desc, col("doc_id")), k)

  /** Adjacent word pairs of a token array column — the shared bigram
    * explode of [[collocationsTopK]] and [[bigramSurprisal]]. Caller
    * filters `size(ws) >= 2` first (sequence(0, -1) would DESCEND). */
  private def adjacentPairs(ws: Column): Column =
    explode(transform(sequence(lit(0), size(ws) - 2), i =>
      struct(element_at(ws, i + 1).as("w1"), element_at(ws, i + 2).as("w2"))))

  /** Per-row ARRAY of hashed-bigram bin values — the un-exploded form of
    * [[dsirScores]]' feature stream (multiplicity PRESERVED: each
    * occurrence is one feature, exactly as the exploded path counts it;
    * [[DedupOps.winnowPrintValues]]' reasoning applied to DSIR). Pure
    * scan-stage array expression, which is what makes the streaming
    * score gate ([[DsirIndex.scorer]]) stream-static legal. Empty
    * array for docs with < 2 words — the batch path's n_feats = 0
    * convention. */
  private[graft] def bigramBinValues(text: Column, buckets: Int,
      tok: Tokenizer = Tokenizer.Ascii): Column = {
    val ws = filter(TextFunctions.words(tok.prep(coalesce(text, lit("")))),
      w => w =!= "")
    // A hashed bigram IS the 2-gram shingle hash of the non-empty word
    // stream: polyHash("w1 w2") char-for-char (the native loop folds the
    // same ' ' separator). Re-join the words and run the native
    // ShingleHashList pass instead of an interpreted per-pair
    // concat+hash lambda; only the trivial `% buckets` stays a lambda.
    val bins = transform(
      TextFunctions.shingleHashList(array_join(ws, " "), 2),
      h => h % lit(buckets.toLong))
    when(size(ws) >= 2, bins).otherwise(array().cast("array<long>"))
  }

  /**
   * Bigram-LM surprisal scoring — the CCNet/KenLM quality-filter shape:
   * train an add-one-smoothed bigram model on a reference slice, score
   * every document by its mean per-bigram surprisal, and let the caller
   * gate on the score (low surprisal ≈ reference-like prose; high ≈
   * gibberish or out-of-domain). A document's bigram (x, y) costs
   *
   *   bits = bitlen(c(x) + V) − bitlen(c(x,y) + 1)
   *
   * — the integer bit-length gap of the add-one-smoothed conditional
   * probability (q87's surprisal trick, `length(bin(n))` on both
   * engines), so the per-doc sum is EXACT integer arithmetic and the
   * mean is one IEEE division + fround. Counts absent from the model
   * read 0 (the left joins' nulls), which IS the smoothing floor:
   * an unseen continuation of an unseen word costs bitlen(V) − 1 bits.
   *
   * Output: one row per document — (doc_id, n_bigrams, surprisal_bits,
   * avg_surprisal); docs with < 2 tokens emit (0, 0, 0.0) rather than
   * vanishing (a junk class a quality gate must SEE).
   *
   * Scale shape: model counts are map-side-combined hash aggregates over
   * the training slice; the doc-side probes are (w1, w2)- and w1-keyed
   * equi-joins (AQE broadcasts the model when it is small — with a
   * `minCount` prune a web-scale bigram table is exactly the "model
   * fits in memory" artifact KenLM ships); V rides one broadcast row;
   * the per-doc re-aggregation is an integer sum keyed on doc_id. Text
   * bytes never shuffle — only exploded term pairs do.
   */
  def bigramSurprisal(docs: DataFrame, train: DataFrame,
      minCount: Long = 1L, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val toksOf = (d: DataFrame, cols: Seq[Column]) => d.select(
      cols :+ filter(TextFunctions.words(tok.prep(coalesce(col("text"),
        lit("")))), w => w =!= "").as("ws"): _*)
    val trainToks = toksOf(train, Seq.empty)
    val uni = trainToks.select(explode(col("ws")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_x"))
    // V = |vocab| BEFORE the minCount prune: the smoothing denominator
    // describes the event space, not the shipped artifact
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = trainToks.filter(size(col("ws")) >= 2)
      .select(adjacentPairs(col("ws")).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uniKept = uni.filter(col("c_x") >= minCount)
    val docBi = toksOf(docs, Seq(col("doc_id")))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), adjacentPairs(col("ws")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val scored = docBi
      .join(bi, Seq("w1", "w2"), "left")
      .join(uniKept, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (length(bin(coalesce(col("c_x"), lit(0L)) + col("v"))) -
          length(bin(coalesce(col("c_xy"), lit(0L)) + lit(1L))))
          .cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("surprisal_bits"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        when(col("n_bigrams") > 0,
          TextFunctions.fround(col("surprisal_bits").cast("double") /
            col("n_bigrams").cast("double"), 4))
          .otherwise(lit(0.0)).as("avg_surprisal"))
  }

  /**
   * Vocabulary drift report — the term-distribution companion to
   * [[TextAnalysis.corpusDiff]]: the top-`k` terms whose add-one-
   * smoothed relative frequency shifted most between two corpus
   * versions, scored by the RATIONAL ratio
   *
   *   drift = max(p_a / p_b, p_b / p_a),
   *   p_x = (cnt_x + 1) / (tot_x + 1)
   *
   * (q105's monotone-rational recipe: no logs, exact integer inputs,
   * correctly-rounded double division, ONE fround at the end — the
   * ranking is identical to |log-ratio| ordering). A term absent from a
   * side reads count 0 through the smoothing, so newly-appeared and
   * vanished vocabulary rank highest — the signal a corpus-QA pass
   * wants first.
   *
   * Scale shape: two map-side-combined term aggregates, a term-keyed
   * full-outer join, totals as one broadcast row each; the global top-k
   * compiles to TakeOrderedAndProject (per-partition heaps). `minCount`
   * prunes the long tail on the MAX side before ranking (a singleton
   * typo in a 10¹³-token corpus is noise, not drift).
   */
  def vocabDrift(oldCorpus: DataFrame, newCorpus: DataFrame, k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    val countsOf = (d: DataFrame, name: String) =>
      termCounts(d).groupBy("term").agg(sum(col("tf")).as(name))
    val a = countsOf(oldCorpus, "cnt_a")
    val b = countsOf(newCorpus, "cnt_b")
    val tots = a.agg(sum(col("cnt_a")).as("tot_a"))
      .crossJoin(b.agg(sum(col("cnt_b")).as("tot_b")))
    val joined = a.join(b, Seq("term"), "full_outer")
      .crossJoin(broadcast(tots))
      .select(col("term"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"),
        col("tot_a"), col("tot_b"))
      .filter(greatest(col("cnt_a"), col("cnt_b")) >= minCount)
    val pa = (col("cnt_a").cast("double") + lit(1.0)) /
      (col("tot_a").cast("double") + lit(1.0))
    val pb = (col("cnt_b").cast("double") + lit(1.0)) /
      (col("tot_b").cast("double") + lit(1.0))
    val scored = joined.select(col("term"), col("cnt_a"), col("cnt_b"),
      TextFunctions.fround(greatest(pa / pb, pb / pa), 4).as("drift"))
    Ranking.global(scored, Seq(col("drift").desc, col("term")), k)
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2019,
   * arXiv:1911.00359 §4.3): rank every document by its [[bigramSurprisal]]
   * against an in-domain reference and cut the corpus into head / middle
   * / tail thirds — head = lowest surprisal (most reference-like), the
   * slice CCNet keeps outright; tail = the candidate-discard slice. The
   * bucket is then a MIXING key (sample head-heavy) rather than a hard
   * filter.
   *
   * Determinism: the rank key is the exact integer
   * `surprisal_bits·10⁴ div n_bigrams` (bounded by 64·10⁴ — bits per
   * bigram never exceed a long's bit length), tie-broken by doc_id;
   * bucket cuts compare `rnk·3` against `n_total` — no division, no
   * percentile estimation. Scale shape: one groupless
   * [[graft.ops.PrefixRank]] pass over (score, doc_id) — never a global
   * window — plus one broadcast count row; the model-probe joins are
   * [[bigramSurprisal]]'s own term-keyed equi-joins.
   */
  def surprisalBuckets(docs: DataFrame, train: DataFrame,
      minCount: Long = 1L, tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val scored = bigramSurprisal(docs, train, minCount, tok)
      .withColumn("s_scaled",
        expr("CAST(surprisal_bits * 10000 AS BIGINT) div greatest(n_bigrams, 1)"))
    val ranked = graft.ops.PrefixRank.keyedPrefix(
      scored.select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        col("s_scaled")),
      Nil, col("s_scaled"), 1L << 20, col("doc_id"))
    val tot = ranked.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        col("s_scaled"), col("rnk"),
        when(col("rnk") * 3 <= col("n_total"), "head")
          .when(col("rnk") * 3 <= col("n_total") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Hashed-bigram feature stream for [[dsirScores]]: each adjacent word
    * pair maps to `polyHash("w1 w2") mod buckets` — DSIR's hashed n-gram
    * feature space. Scan-stage explode, no shuffle. */
  private def hashedBigramBuckets(d: DataFrame, buckets: Int,
      withId: Boolean, tok: Tokenizer): DataFrame = {
    val idCols = if (withId) Seq(col("doc_id")) else Seq.empty[Column]
    // One native per-row pass ([[bigramBinValues]]) then explode —
    // row-identical to the old explode-struct-pairs-then-hash shape
    // (explode preserves array order and drops empty arrays, exactly as
    // the size>=2 filter + pair explode did), without the interpreted
    // per-pair concat+hash lambda.
    d.select(idCols :+
      explode(bigramBinValues(col("text"), buckets, tok)).as("b"): _*)
  }

  /**
   * DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 — Data
   * Selection via Importance Resampling): score every document in the
   * raw `pool` by how target-like its hashed-bigram feature distribution
   * is. Each adjacent word pair hashes into one of `buckets` feature
   * bins; bin counts over the `target` corpus estimate p̂_target and bin
   * counts over the pool itself estimate p̂_raw; a document's importance
   * weight is its features' summed log-probability ratio. The engine's
   * deterministic analog replaces `log` with the integer bit length
   * (q87/q113's `length(bin(n))` trick): a feature in bin `b` scores
   *
   *   t = bitlen(c_target(b) + 1) − bitlen(c_raw(b) + 1)
   *
   * (add-one smoothing; c_raw ≥ 1 by construction since the pool defines
   * its own bins). The per-doc LENGTH-NORMALIZED weight is the exact
   * integer `(lr_bits + 64·n_feats) · 10⁴ div n_feats`: the +64-bits-
   * per-feature offset keeps the dividend non-negative (each t ≥ −63),
   * so Spark's truncating `div` and DuckDB's flooring `//` agree — the
   * offset is a constant shift, order-preserving. Documents with < 2
   * words carry weight 0 (no features — the junk class ranks last).
   *
   * Scale shape: both count tables have ≤ `buckets` rows (the point of
   * feature hashing — the "model" is a fixed-size array no matter the
   * corpus), so they broadcast to the pool's scan-stage feature stream;
   * the per-doc sum is one map-side-combined aggregate keyed on doc_id.
   * Text bytes never shuffle; only (doc_id, bin) pairs do.
   *
   * Output: (doc_id, n_feats, lr_bits, lr_scaled) — one row per pool doc.
   */
  def dsirScores(pool: DataFrame, target: DataFrame,
      buckets: Int = 1024, tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    dsirScoreAgainst(pool,
      dsirBinCounts(target, buckets, "c_t", tok),
      dsirBinCounts(pool, buckets, "c_r", tok), buckets, tok)

  /** Hashed-bigram bin-count table of a corpus — DSIR's "model" half:
    * ≤ `buckets` rows (b, `name`), the artifact [[DsirIndex]] persists. */
  private[llm] def dsirBinCounts(d: DataFrame, buckets: Int,
      name: String, tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    hashedBigramBuckets(d, buckets, withId = false, tok)
      .groupBy("b").agg(count(lit(1)).as(name))

  /** Score `docs` against explicit count tables (`ct` = (b, c_t),
    * `cr` = (b, c_r)) — the shared core of [[dsirScores]] (tables
    * computed inline) and [[DsirIndex.score]] (tables loaded from the
    * persisted model, where a batch bin unseen at train time reads
    * c_r = 0 through the left join: the add-one smoothing floor). */
  private[llm] def dsirScoreAgainst(docs: DataFrame, ct: DataFrame,
      cr: DataFrame, buckets: Int,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val pb = hashedBigramBuckets(docs, buckets, withId = true, tok)
    val scored = pb
      .join(broadcast(ct), Seq("b"), "left")
      .join(broadcast(cr), Seq("b"), "left")
      .select(col("doc_id"),
        (length(bin(coalesce(col("c_t"), lit(0L)) + lit(1L))) -
          length(bin(coalesce(col("c_r"), lit(0L)) + lit(1L))))
          .cast("long").as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("t")).as("lr_bits"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("lr_bits"), lit(0L)).as("lr_bits"))
      .withColumn("lr_scaled",
        when(col("n_feats") > 0,
          expr("CAST((lr_bits + 64 * n_feats) * 10000 AS BIGINT) div n_feats"))
          .otherwise(lit(0L)))
  }

  /**
   * DSIR selection: keep the `keepPermille`‰ most target-like pool
   * documents by [[dsirScores]] weight. Deterministic top-slice — the
   * paper's Gumbel resampling trades determinism for diversity; the
   * hash-gated engine takes the exact-rank cut (rank · 1000 ≤
   * n_total · keepPermille, no division) and leaves diversity to the
   * mixture samplers (q89/q110), which the kept slice feeds. Ranking is
   * a groupless [[graft.ops.PrefixRank]] over the descending weight
   * (key = 2²¹−1−lr_scaled; lr_scaled ≤ 128·10⁴ < 2²¹), never a global
   * window; the total rides one broadcast row.
   */
  def dsirSelect(pool: DataFrame, target: DataFrame, buckets: Int = 1024,
      keepPermille: Long = 500L,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val bound = 1L << 21
    val ranked = graft.ops.PrefixRank.keyedPrefix(
      dsirScores(pool, target, buckets, tok),
      Nil, lit(bound - 1L) - col("lr_scaled"), bound, col("doc_id"))
    val tot = ranked.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(tot))
      .filter(col("rnk") * 1000 <= col("n_total") * keepPermille)
      .select(col("doc_id"), col("n_feats"), col("lr_bits"),
        col("lr_scaled"), col("rnk"))
  }

  /**
   * Effective-sample-size report over [[dsirScores]] importance weights,
   * per group — the importance-sampling health check a selection run
   * reads BEFORE trusting its weights: ESS = (Σw)²/Σw² collapses toward
   * 1 when a handful of documents carry all the weight (the selection
   * would train on near-duplicated mass) and approaches n when weights
   * are uniform (the selection is not doing anything). Reported as the
   * exact truncating permille of n — `(Σw)²·1000 div (Σw²·n)` — with
   * the squares taken in DECIMAL(38,0) (Σw exceeds int64 squared far
   * below real corpus sizes; the q101 quota-product discipline).
   *
   * Shape: the scoring is [[dsirScores]]'s broadcast-model scan; the
   * report adds ONE group-keyed map-side-combined aggregate. Zero-
   * weight groups (all-junk strata) read ess_permille 0 rather than
   * dividing by zero.
   */
  def essReport(pool: DataFrame, target: DataFrame, buckets: Int = 1024,
      groupCol: String = "lang",
      tok: Tokenizer = Tokenizer.Ascii): DataFrame =
    pool.select(col("doc_id"), col(groupCol))
      .join(dsirScores(pool, target, buckets, tok)
        .select(col("doc_id"), col("lr_scaled").as("w")), "doc_id")
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("sum_w"),
        sum(col("w") * col("w")).as("sum_w2"))
      .withColumn("ess_permille",
        when(col("sum_w2") > 0,
          expr("CAST(CAST(sum_w AS DECIMAL(38,0)) * sum_w * 1000" +
            " div (CAST(sum_w2 AS DECIMAL(38,0)) * n_docs) AS BIGINT)"))
          .otherwise(lit(0L)))

  /**
   * Vocabulary coverage curve — the tokenizer-sizing table: for each
   * candidate vocabulary size `k`, the EXACT fraction of token mass a
   * top-`k`-by-frequency vocabulary covers (everything else would fall
   * to `<unk>`/byte-fallback). The table a BPE/WordPiece sizing decision
   * reads: where the curve flattens is where added vocab stops paying.
   *
   * Exactness without ordering ties: coverage@k is computed over the
   * COUNT-OF-COUNTS table (count c → m terms with that count), so no
   * per-term tie-break is ever needed — any k terms cut inside an
   * equal-count class cover the same mass, making the value well-defined
   * and engine-identical. For each rung: the classes that fit fully
   * below k contribute their whole mass, and the boundary class
   * contributes `(k − terms_below)·c` exactly (that product is bounded
   * by the class mass, so it stays in BIGINT). Permille by truncating
   * integral division.
   *
   * Scale shape: one explode + term-keyed map-side-combined count, one
   * tiny count-of-counts aggregate, then ALL remaining work runs on the
   * count-of-counts table — whose size is bounded by the number of
   * DISTINCT count values, ≤ √(2·total_mass) by the pigeonhole (counts
   * 1+2+…+d already exceed the corpus at d ≈ √(2N)) — ~1.4·10⁷ rows at
   * 10¹⁴ tokens, longs only. The cumulative window runs over THAT
   * table (the cell-table window pattern), never the vocabulary, and
   * the rung ladder joins it with one aggregate per rung.
   */
  def vocabCoverage(docs: DataFrame,
      ks: Seq[Long] = Seq(100L, 1000L, 4000L, 16000L, 64000L)): DataFrame = {
    require(ks.nonEmpty, "vocabCoverage needs a vocabulary-size ladder")
    val terms = docs.select(explode(
      filter(TextFunctions.words(coalesce(col("text"), lit(""))),
        w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val coc = terms.groupBy("c").agg(count(lit(1)).as("m"))
    val cumW = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = coc
      .withColumn("cum_terms", sum(col("m")).over(cumW))
      .withColumn("cum_mass", sum(col("c") * col("m")).over(cumW))
    val tot = coc.agg(sum(col("m")).as("n_terms"),
      sum(col("c") * col("m")).as("total_mass"))
    // per rung: full classes (cum_terms ≤ k) contribute cum_mass; the
    // boundary class is the LARGEST c among cum_terms > k (c decreases
    // as cum_terms grows, so max() finds it without a sort)
    cum.select(col("c"), col("cum_terms"), col("cum_mass"),
        explode(lit(ks.toArray)).as("k"))
      .groupBy("k")
      .agg(
        max(when(col("cum_terms") <= col("k"), col("cum_mass"))
          .otherwise(0L)).as("full_mass"),
        max(when(col("cum_terms") <= col("k"), col("cum_terms"))
          .otherwise(0L)).as("full_terms"),
        max(when(col("cum_terms") > col("k"), col("c"))
          .otherwise(0L)).as("boundary_c"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_terms"), col("total_mass"),
        (col("full_mass") +
          (col("k") - col("full_terms")) * col("boundary_c"))
          .as("covered_mass"))
      .withColumn("coverage_permille",
        expr("covered_mass * 1000 div greatest(total_mass, 1)"))
  }

  /**
   * DoReMi-flavored domain reweighting (Xie et al. 2023,
   * arXiv:2305.10429 — Domain Reweighting with Minimax Optimization):
   * re-derive the pretraining mixture so that domains the
   * reference-trained LM finds HARD (high excess loss) are upweighted
   * relative to their raw token mass. The proxy loss is
   * [[bigramSurprisal]] against `train` (the same add-one bigram model
   * CCNet-style filtering uses, exact integer bit arithmetic); a
   * domain's excess is its token-mass-weighted mean surprisal over the
   * easiest domain's — the per-domain analog of DoReMi's
   * excess-loss-vs-reference term, with the easiest domain standing in
   * for the reference model's loss floor.
   *
   * The update is the LINEAR multiplicative-weights step
   * `w = mass · (10⁴ + excess_scaled)` — MW's first-order variant
   * (hedge's `w·(1+η·ℓ)`, η = 1 per 1 bit of excess) rather than the
   * paper's `exp(η·ℓ)`, because the linear form stays EXACT integer
   * arithmetic end-to-end: mass and excess are BIGINTs, the product
   * widens to DECIMAL(38,0) (mass ≤ 10¹⁴ tokens × excess ≤ 64·10⁴
   * < 10²⁰ — exact on both engines, DuckDB in HUGEINT), and the final
   * permille is one truncating integral division. The ordering of
   * domains is identical to the exponential update's (both are
   * monotone in excess); only the sharpness differs, which η tunes
   * anyway. Floors/ties: permilles are floors so they may sum < 1000;
   * a domain with no bigrams reads mean 0 (= the floor, so it takes
   * excess 0 and keeps mass weight 0 — the junk class cannot sneak
   * mass in through the reweighting).
   *
   * Output: one row per domain — (domain, n_docs, n_bigrams,
   * avg_scaled, excess_scaled, base_permille, mix_permille), where
   * base_permille is the raw bigram-mass share (the "before") and
   * mix_permille the reweighted share (the "after").
   *
   * Scale shape: [[bigramSurprisal]]'s term-keyed joins do the heavy
   * lifting; everything after is ONE map-side-combined aggregate keyed
   * on the domain (domains number in the tens), one broadcast
   * min/total row, and scan-stage integer arithmetic. Domain mass =
   * Σ n_bigrams (tokens − 1 per doc) — the mass the proxy loss is
   * actually averaged over, so mean and mass use the same denominator.
   */
  def doremiMixture(docs: DataFrame, train: DataFrame,
      domainCol: String = "source", minCount: Long = 1L,
      tok: Tokenizer = Tokenizer.Ascii): DataFrame = {
    val scored = bigramSurprisal(docs, train, minCount, tok)
    val dom = docs.select(col("doc_id"), col(domainCol).as("domain"))
      .join(scored, Seq("doc_id"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("surprisal_bits")).as("bits"))
      .withColumn("avg_scaled",
        expr("CAST(CAST(bits AS DECIMAL(38,0)) * 10000 AS DECIMAL(38,0))" +
          " div CAST(greatest(n_bigrams, 1) AS DECIMAL(38,0))"))
    val mn = dom.agg(min(col("avg_scaled")).as("min_scaled"),
      sum(col("n_bigrams")).as("mass_total"))
    val w = dom.crossJoin(broadcast(mn))
      .withColumn("excess_scaled", col("avg_scaled") - col("min_scaled"))
      .withColumn("weight",
        expr("CAST(n_bigrams AS DECIMAL(38,0)) * " +
          "CAST(10000 + excess_scaled AS DECIMAL(38,0))"))
    val tot = w.agg(sum(col("weight")).cast("decimal(38,0)").as("w_total"))
    w.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"), col("n_bigrams"),
        col("avg_scaled"), col("excess_scaled"),
        expr("CAST(n_bigrams AS DECIMAL(38,0)) * 1000 div " +
          "CAST(greatest(mass_total, 1) AS DECIMAL(38,0))")
          .cast("long").as("base_permille"),
        expr("(weight * 1000) div CAST(greatest(w_total, 1) AS DECIMAL(38,0))")
          .cast("long").as("mix_permille"))
  }

  /**
   * Reciprocal-rank fusion of two ranked candidate lists — the standard
   * hybrid-retrieval combiner (sparse BM25 ∪ dense cosine). Each list
   * contributes floor(10⁹ / (kRrf + rank)) — the RRF term scaled to
   * EXACT integer division (`div` / `//` on both engines), so the fused
   * score is a BIGINT sum, never a float. Ids in only one list score
   * with the other contribution 0 (their absent rank reads 0 in the
   * output). Ties break on doc_id.
   *
   * Both inputs are top-k lists (≤ kCand rows), so the full-outer fuse
   * join and the final rank window are trivially small no matter the
   * corpus size — the heavy lifting happened in the upstream rankers.
   */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k: Int,
      kRrf: Int = 60): DataFrame = {
    val contrib = expr(s"1000000000 div ($kRrf + rank)")
    val a = sparse.select(col("doc_id"), col("rank").as("r_sparse"),
      contrib.cast("long").as("c_a"))
    val b = dense.select(col("doc_id"), col("rank").as("r_dense"),
      contrib.cast("long").as("c_b"))
    Ranking.global(a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_sparse"), lit(0)).cast("int").as("r_sparse"),
        coalesce(col("r_dense"), lit(0)).cast("int").as("r_dense"),
        (coalesce(col("c_a"), lit(0L)) + coalesce(col("c_b"), lit(0L))).as("rrf")),
      Seq(col("rrf").desc, col("doc_id")), k)
  }

  /**
   * Hybrid top-`k` over a corpus carrying BOTH text and an embedding
   * (documents ⋈ embeddings on doc_id = vec_id): BM25 candidates for the
   * query terms, brute-force cosine candidates for the query vector,
   * fused by [[rrfFuse]]. `kCand` bounds each candidate list (the usual
   * 2–10× over-retrieve before fusion). The dense side is
   * [[SimilaritySearch.bruteForceTopK]] — swap in the IVF/LSH variants
   * at corpus scale; the fusion is ranker-agnostic by construction.
   */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], queryVec: DataFrame, k: Int,
      kCand: Int = 20, kRrf: Int = 60): DataFrame = {
    val sparse = bm25TopK(docs, queryTerms, kCand, k1 = 1.5, b = 0.75,
      logIdf = false).select(col("doc_id"), col("rank"))
    val corpus = embeddings.join(
      docs.select(col("doc_id")),
      embeddings("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"))
    val dense = SimilaritySearch.bruteForceTopK(corpus, queryVec, kCand)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(sparse, dense, k, kRrf)
  }

  /**
   * [[hybridTopK]] at corpus scale: the dense candidate list comes from
   * a persisted [[IvfIndex]] ([[IvfIndex.searchPqRefined]] — ADC over
   * 8-byte codes in the probed cells, exact-cosine refinement of the
   * top-`refine`) instead of a brute-force scan, so per query only
   * `refine` full-precision vectors are ever touched and the embedding
   * read is partition-pruned to the probed cells. The sparse side and
   * the integer-RRF fusion are unchanged — [[rrfFuse]] is
   * ranker-agnostic, which is exactly why the swap is safe.
   *
   * Exactness dial: at nprobe = nCells and refine ≥ corpus size the
   * candidate pool is complete, so the dense ranking equals
   * [[SimilaritySearch.bruteForceTopK]]'s (same full-precision cosine
   * ordering, same neighbor-id tie-break, self-hit excluded by the ADC
   * ranker) and the fused output is value-identical to [[hybridTopK]] —
   * the q102 serve-equals-inline pattern, hash-checked by q131 against
   * q115's oracle. Production dials nprobe/refine down and trades
   * recall for a scan that never leaves the probed cells.
   */
  def hybridTopKIvf(docs: DataFrame, indexDir: String,
      queryTerms: Seq[String], queryVec: DataFrame, k: Int,
      kCand: Int = 20, kRrf: Int = 60, nprobe: Int = 4,
      refine: Int = 64): DataFrame = {
    val sparse = bm25TopK(docs, queryTerms, kCand, k1 = 1.5, b = 0.75,
      logIdf = false).select(col("doc_id"), col("rank"))
    val dense = IvfIndex.searchPqRefined(queryVec, indexDir,
      k = kCand, nprobe = nprobe, refine = math.max(refine, kCand))
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(sparse, dense, k, kRrf)
  }
}
