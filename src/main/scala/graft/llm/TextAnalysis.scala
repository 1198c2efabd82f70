package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/**
 * Text-analysis operators for training-data curation over the `documents`
 * table (SURVEY.md §2.6): token counting, language identification,
 * quality scoring, and document fingerprinting.
 *
 * All four are pure per-row column expressions — no shuffle, no UDF, fully
 * codegen'd — so at 100 TB they run at parquet-scan speed and compose with
 * any downstream filter (Catalyst pushes the cheap predicates into the
 * scan and fuses the rest into one pass).
 */
object TextAnalysis {

  /** BPE-ish token pattern: letter runs, digit runs, or single
    * non-alphanumeric marks — the usual pre-tokenizer shape. */
  val tokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /**
   * Token counting: whitespace tokens and regex (BPE-ish) tokens plus
   * character length — the volume accounting every data pipeline starts
   * with (token budgets, length filters).
   */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(tokenPattern), lit(0)))
        .cast("long").as("n_re_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately minimal — the operator is the scoring
    * machinery; real deployments swap in fuller lists. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "he", "zai", "le"))

  private def stopScore(lang: String): Column = {
    val list = array(stopwords.toMap.apply(lang).map(lit): _*)
    size(filter(words(col("text")), w => array_contains(list, w))).cast("long")
  }

  /**
   * Language-ID heuristic: score each candidate language by its stopword
   * hit count over the token stream; predict the argmax, ties broken in
   * declaration order (en first). Deterministic, so oracle-comparable.
   */
  def languageId(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      col("doc_id") +: col("lang").as("labeled_lang") +:
        stopwords.map { case (l, _) => stopScore(l).as(s"s_$l") }: _*)
    val langs = stopwords.map(_._1)
    // first language whose score is >= all later scores (CASE order = tie order)
    val pred = langs.init.foldRight(lit(langs.last): Column) { (l, rest) =>
      val idx = langs.indexOf(l)
      val beatsAll = langs.drop(idx + 1)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _)
      when(beatsAll, lit(l)).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
      .withColumn("is_match", (col("pred_lang") === col("labeled_lang")).cast("int"))
  }

  /**
   * [[languageId]] with a CONFIDENCE margin — the CCNet-style gate: the
   * argmax alone misclassifies freely when scores are close (short docs,
   * mixed-language text), so pipelines threshold on top1 − top2. The
   * margin is an integer difference of stopword-hit counts (exact on
   * both engines — no probability calibration needed for a cut), taken
   * from one array_sort over the per-language score columns.
   */
  def languageIdConfidence(docs: DataFrame, minMargin: Long = 1L): DataFrame = {
    val sorted = array_sort(array(stopwords.map { case (l, _) => col(s"s_$l") }: _*))
    languageId(docs)
      .withColumn("margin",
        (element_at(sorted, -1) - element_at(sorted, -2)).cast("long"))
      .withColumn("is_confident", (col("margin") >= minMargin).cast("int"))
  }

  /**
   * Language-label agreement matrix — the label-QA complement of
   * [[languageId]]: the confusion matrix between the corpus's LABELED
   * language and the stopword-voted prediction, one row per observed
   * (labeled_lang, pred_lang) cell with its exact count. Off-diagonal
   * mass is either mislabeled data or text the n-gram heuristic cannot
   * place — both are rows a curation run wants counted, not averaged
   * away (q36's per-doc `is_match` says WHICH documents; this says HOW
   * MUCH and WHERE, in ≤ |langs|² rows a human actually reads).
   *
   * Shape: [[languageId]]'s scan-stage vote + one small two-key
   * map-side-combined aggregate — no new shuffle class at any corpus
   * size (the result is bounded by the language-pair universe).
   */
  def languageIdAgreement(docs: DataFrame): DataFrame =
    languageId(docs)
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /**
   * Quality scoring: blend of length saturation, type-token ratio and
   * non-stopword density — the standard cheap heuristics used to filter
   * web text before training. Returns the components and the blended
   * score so downstream thresholds stay tunable.
   */
  /** The flattened stopword list as an array literal — every consumer
    * of the q37 blend's n_stop component reads this one value. */
  private[llm] lazy val allStopLits: Column =
    array(stopwords.flatMap(_._2).distinct.map(lit): _*)

  /** The q37 heuristic quality blend (fround'd to 4 decimals) over raw
    * token counts — the ONE formula [[qualityScore]], [[annealedOrder]]
    * and [[Classifier]]'s teacher/calibration all read, so the four can
    * never drift (the gopherMeasures/gopherRules single-sourcing
    * pattern). */
  private[llm] def qualityBlendOf(nTokens: Column, nDistinct: Column,
      nStop: Column): Column =
    fround(
      least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.4
        + (nDistinct.cast("double") / nTokens) * 0.3
        + (lit(1.0) - nStop.cast("double") / nTokens) * 0.3,
      4)

  def qualityScore(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    docs.select(
      col("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      size(array_distinct(ws)).cast("long").as("n_distinct"),
      size(filter(ws, w => array_contains(allStopLits, w))).cast("long").as("n_stop"))
      .withColumn("ttr",
        fround(col("n_distinct").cast("double") / col("n_tokens"), 4))
      .withColumn("quality",
        qualityBlendOf(col("n_tokens"), col("n_distinct"), col("n_stop")))
  }

  /**
   * Document fingerprinting: the polynomial rolling hash of the full text
   * (mod 1e9+7). Identical texts collide with probability 1; the
   * fingerprint column is the exact-dedup key that costs one scan to
   * build and groups duplicates with a single shuffle on a long.
   */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), polyHash(col("text")).as("fingerprint"))

  /** The shared salt-PREFIXED order key of [[trainingOrder]] /
    * [[mixtureSample]] / [[mixtureSampleTokens]] — single-sourced because
    * every piece is load-bearing and oracle-pinned: the prefix position
    * (a suffixed salt only shifts a rolling hash by a near-constant, so
    * re-salting would barely reshuffle), the '#' separator, and the
    * null-text coalesce (a null key would sort NULLS FIRST on Spark but
    * NULLS LAST on the oracle engine, and raise in PrefixRank). */
  private def saltedKey(salt: String): Column =
    polyHash(concat(lit(salt), lit("#"), coalesce(col("text"), lit(""))))

  /**
   * Deterministic train/val/test assignment by content hash: split by
   * `fingerprint mod 100` so membership is a pure function of the text —
   * stable across reruns, machines and data orderings, and duplicate
   * texts always land in the same split (no train/val leakage from
   * duplicates). The standard hash-split of training-data pipelines;
   * per-row compute, no shuffle.
   */
  def withSplit(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val bucket = polyHash(col("text")) % 100L
    docs.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /**
   * Split-leakage audit: near-duplicate pairs ([[graft.llm.DedupOps
   * .dupEdges]] — Jaccard ∪ containment edges off ONE df-capped
   * inverted index) crossed with [[withSplit]]'s deterministic
   * train/val/test assignment, aggregated per unordered split pair.
   * Content-hash splitting already kills EXACT leakage by construction
   * (identical text → identical bucket → same split); this counts the
   * NEAR clones that survive it — every train↔val / train↔test pair is
   * a held-out document whose evaluation the training set has already
   * seen, modulo an edit. The diagonal cells are dedup debt; the
   * off-diagonal cells are eval inflation. Read this BEFORE trusting a
   * validation number from an undeduped corpus.
   *
   * Shape: the pair front is the shared df-capped dedup pass (banding
   * economics documented at [[graft.llm.DedupOps.dupEdges]]); split
   * labels are a scan-stage projection joined onto the (small) pair
   * list by doc_id; the final aggregate has ≤ 6 rows.
   */
  def splitLeakage(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5,
      n: Int = 3, jaccThreshold: Double = 0.5, contThreshold: Double = 0.8,
      maxDf: Option[Long] = None,
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): DataFrame = {
    val sp = withSplit(docs, trainPct, valPct)
      .select(col("doc_id"), col("split"))
    DedupOps.dupEdges(docs, n, jaccThreshold, contThreshold, maxDf, tok)
      .join(sp.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sp.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(least(col("sa.split"), col("sb.split")).as("split_a"),
        greatest(col("sa.split"), col("sb.split")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Deterministic content-hash sampling: keep rows whose salted text
   * hash falls under `permille`/1000 — a reproducible Bernoulli sample
   * that needs no RNG state and composes with any pushdown (the
   * predicate is a scan-stage expression).
   */
  def hashSample(docs: DataFrame, permille: Int, salt: String = "graft"): DataFrame =
    docs.filter(polyHash(concat(col("text"), lit(salt))) % 1000L < permille)

  /**
   * Text normalization: collapse whitespace runs and strip characters
   * outside [a-z0-9 ] — the cheap cleanup pass before tokenization.
   * Pure regexp_replace chain (codegen'd, scan-stage).
   */
  def normalized(docs: DataFrame): DataFrame =
    docs.withColumn("text_norm",
      regexp_replace(
        regexp_replace(col("text"), "[^a-z0-9 ]", ""),
        " +", " "))

  /** [[normalized]]'s unicode-aware sibling: case-folded, any \p{L}\p{N}
    * kept, whitespace classes collapsed ([[TextFunctions
    * .normalizeUnicode]]) — the variant a multilingual corpus needs,
    * because the ASCII strip maps non-Latin text to the empty string. */
  def normalizedUnicode(docs: DataFrame): DataFrame =
    docs.withColumn("text_norm",
      TextFunctions.normalizeUnicode(coalesce(col("text"), lit(""))))

  /**
   * Case/punctuation-insensitive exact duplicate groups over the
   * unicode-normalized text: (doc_id, rep, grp_size) — rep is the
   * minimum doc_id sharing the normalized fingerprint, grp_size the
   * clone count. The multilingual analog of [[fingerprint]]-keyed exact
   * dedup: "Привет, мир!" and "привет мир" land in one group, where the
   * ASCII normalizer would have emptied (and thus spuriously merged)
   * every non-Latin document. One scan + one hash-keyed aggregate +
   * a broadcast-sized join back — no text shuffles, exact-dedup's
   * 100 TB shape.
   */
  def unicodeDupGroups(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"),
      polyHash(TextFunctions.normalizeUnicode(coalesce(col("text"), lit(""))))
        .as("ufp"))
    val grp = fp.groupBy("ufp")
      .agg(count(lit(1)).as("grp_size"), min(col("doc_id")).as("rep"))
    fp.join(grp, Seq("ufp"))
      .select(col("doc_id"), col("rep"), col("grp_size"))
  }

  /**
   * Stratified hash sampling — the data-MIXING primitive: each stratum
   * (language, source, quality tier) gets its own keep rate in permille,
   * so one pass reweights the corpus (upsample rare languages, cap
   * boilerplate sources). Same deterministic salted-hash Bernoulli as
   * [[hashSample]] — membership is a pure function of the text, stable
   * across reruns — with the rate looked up per row. Strata absent from
   * `permilleByStratum` are dropped (rate 0). Scan-stage predicate,
   * no shuffle.
   */
  def stratifiedHashSample(docs: DataFrame, stratumCol: String,
      permilleByStratum: Map[String, Int], salt: String = "graft"): DataFrame = {
    val rate = permilleByStratum.foldLeft(lit(0): Column) {
      case (acc, (stratum, permille)) =>
        when(col(stratumCol) === stratum, lit(permille)).otherwise(acc)
    }
    docs.filter(polyHash(concat(col("text"), lit(salt))) % 1000L < rate)
  }

  /**
   * Deterministic training order — the "shuffle the corpus once" step a
   * training run ends with: a global rank by salted content hash
   * (tie-broken by doc_id), so epoch order is a pure function of
   * (content, salt) — reproducible across reruns, machines and input
   * orderings, and re-saltable per epoch without touching the data.
   *
   * Shape: the hash is a scan-stage expression; the contiguous rank is
   * [[graft.ops.PrefixRank.keyedPrefix]] with no group — deterministic
   * hash-range buckets, per-bucket local ranks, broadcast per-bucket
   * offsets. NOT `row_number()` over a global window: an unpartitioned
   * window collapses the corpus onto one task (Spark itself warns),
   * which is exactly the shape that dies at 100 TB. And no RDD
   * `zipWithIndex` round-trip either (rounds ≤ 8 used one): the whole
   * plan stays in Catalyst/Tungsten. The total order (key, doc_id) has
   * no ties, so the assigned index is deterministic.
   *
   * The salt is a PREFIX, not a suffix: a rolling hash of `text || salt`
   * differing only in trailing salt chars shifts every key by the same
   * constant (h' = h + Δ mod P), which preserves the order — the epoch
   * "reshuffle" would be a no-op. Prepending perturbs the initial fold
   * state, so every document's key diverges (spec-pinned).
   */
  def trainingOrder(docs: DataFrame, salt: String = "epoch0"): DataFrame = {
    // null text orders as the empty string (its key is then a pure
    // function of the salt) — see saltedKey. Other gates in this file
    // keep null-text rows too — dropping them is a filter's decision,
    // not an ordering side effect.
    graft.ops.PrefixRank.keyedPrefix(
      docs.select(col("doc_id"), saltedKey(salt).as("order_key")),
      groupCols = Nil, orderKey = col("order_key"), keyBound = P,
      tieBreaker = col("doc_id"), rankName = "ord")
      .select(col("doc_id"), col("order_key"), col("ord"))
  }

  /**
   * Quality-ANNEALED training order — the "end training on your best
   * data" curriculum (the phase-2/annealing schedule of recent
   * pretraining recipes: the final steps see the highest-quality slice,
   * where gradient updates matter most): documents order by ascending
   * quality BUCKET (the q37 blend, integer-scaled then cut into
   * `nBuckets` rungs), and within a bucket by [[trainingOrder]]'s
   * salted content hash — so each rung is internally shuffled and the
   * whole order stays a pure function of (content, salt, nBuckets).
   *
   * Shape: quality and the salted key are one scan-stage select; the
   * contiguous rank is ONE groupless [[graft.ops.PrefixRank
   * .keyedPrefix]] over the composite key `bucket·P + hash` (exact in
   * longs: nBuckets·P·shufflePartitions ≪ 2^52) — never a global
   * window, never a per-bucket window (a bucket holds a corpus-scale
   * share by construction).
   */
  def annealedOrder(docs: DataFrame, salt: String = "anneal0",
      nBuckets: Int = 4): DataFrame = {
    require(nBuckets >= 1 && nBuckets <= 1024,
      s"nBuckets must be in [1, 1024] (got $nBuckets)")
    val ws = words(col("text"))
    val nT = size(ws).cast("long")
    val nD = size(array_distinct(ws)).cast("long")
    val nS = size(filter(ws, w => array_contains(allStopLits, w))).cast("long")
    val quality = qualityBlendOf(nT, nD, nS)
    val base = docs.select(col("doc_id"),
      coalesce(floor(quality * 10000d + lit(0.5)).cast("long"), lit(0L))
        .as("qs"),
      saltedKey(salt).as("hkey"))
      .withColumn("bucket",
        least(expr(s"qs * $nBuckets div 10000"), lit(nBuckets - 1L)))
    graft.ops.PrefixRank.keyedPrefix(base,
      groupCols = Nil,
      orderKey = col("bucket") * lit(P) + col("hkey"),
      keyBound = nBuckets.toLong * P,
      tieBreaker = col("doc_id"), rankName = "ord")
      .select(col("doc_id"), col("qs"), col("bucket"), col("ord"))
  }

  /**
   * Sequence packing (concat-and-chunk shard assignment): documents are
   * hash-bucketed into `shards`, ordered within each shard, and cut into
   * fixed `budgetTokens` bins by cumulative token count — the shape of a
   * GPT-style packed-pretraining shard layout where documents are
   * concatenated and split at the context boundary. The cumulative sum
   * is integer (exact, order-fixed by the total per-shard ordering), so
   * bin assignment is deterministic. One shuffle on the shard key;
   * per-shard state in the window is O(1).
   */
  def packSequences(docs: DataFrame, budgetTokens: Long,
      shards: Int): DataFrame =
    packSequencesBy(docs, size(words(col("text"))).cast("long"),
      budgetTokens, shards)

  /**
   * [[packSequences]] with a caller-supplied token-count expression —
   * the hook real tokenization plugs into ([[Bpe.tokenCount]] bakes the
   * learned merges in as a scan-stage expression, so the packing still
   * involves no extra join or shuffle; the one shuffle remains the shard
   * key).
   */
  def packSequencesBy(docs: DataFrame, nTokens: Column, budgetTokens: Long,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"),
      pmod(polyHash(col("text")), lit(shards.toLong)).as("shard"),
      nTokens.cast("long").as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before").cast("double") / budgetTokens)
        .cast("long"))
  }

  /**
   * Packing-efficiency report over a [[packSequencesBy]] layout — the
   * per-shard table a loader review reads before training: bins, doc
   * and token mass, the min/max bin fill, and the mean fill as a
   * truncating permille of `n_bins·budget`. Whole-document greedy bins
   * can both underfill (the tail bin) and OVERfill (a document
   * straddling the boundary lands whole), so `fill_permille` may exceed
   * 1000 — exactly the waste/overstuff signal that decides between
   * whole-doc bins and the spanning layout ([[packSpanning]]).
   *
   * Scale shape: two tiny keyed aggregates over the packed rows —
   * (shard, bin) then shard — both map-side combined; the packing
   * itself is the input and is never recomputed here.
   */
  def packEfficiency(packed: DataFrame, budgetTokens: Long): DataFrame =
    packed.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("fill"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("fill")).as("n_tokens"),
        min(col("fill")).as("min_fill"),
        max(col("fill")).as("max_fill"))
      .withColumn("fill_permille",
        expr(s"n_tokens * 1000 div greatest(n_bins * $budgetTokens, 1)"))

  /**
   * Document-SPANNING sequence packing — the GPT-style "concatenate the
   * corpus in training order and cut every `seqLen` tokens" layout,
   * where a document may straddle a sequence boundary (unlike
   * [[packSequencesBy]], whose bins are whole-document greedy fills).
   * Emits the (sequence ↔ document-slice) map a loader materializes
   * batches from: one row per (doc, sequence it overlaps) —
   *
   *   (seq_id, doc_id, doc_off, seq_off, n_toks)
   *
   * with `doc_off` the slice's first token within the document,
   * `seq_off` its first position within the sequence, and per-sequence
   * `n_toks` summing to exactly `seqLen` (the final partial sequence
   * excepted), per-document slices summing to the doc's token count.
   *
   * Scale shape: the global concatenation order is the salted-hash
   * [[trainingOrder]] key via ONE groupless [[graft.ops.PrefixRank]]
   * pass (rank + inclusive token prefix-sum; no single-partition
   * window), and the boundary-straddle fan-out is a scan-stage
   * `explode(sequence(first_seq, last_seq))` — a document emits
   * 1 + ⌈n/seqLen⌉-ish rows, no join, no second shuffle. All arithmetic
   * is exact integer division on both engines. Zero-token docs emit no
   * rows (nothing to place).
   */
  def packSpanning(docs: DataFrame, nTokens: Column, seqLen: Long,
      salt: String = "graft"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1 (got $seqLen)")
    val toks = docs.withColumn("n_tokens",
      coalesce(nTokens.cast("long"), lit(0L)))
    val ranked = graft.ops.PrefixRank.keyedPrefix(
      toks.select(col("doc_id"), col("text"), col("n_tokens")),
      Nil, saltedKey(salt), P, col("doc_id"),
      sums = Seq((col("n_tokens"), "cum_tokens")))
      .withColumn("cum_before", col("cum_tokens") - col("n_tokens"))
    val first = expr(s"cum_before div $seqLen")
    val last = expr(s"(cum_before + n_tokens - 1) div $seqLen")
    val start = greatest(col("cum_before"), col("seq_id") * seqLen)
    val end = least(col("cum_before") + col("n_tokens"),
      (col("seq_id") + 1) * seqLen)
    ranked.filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("cum_before"), col("n_tokens"),
        explode(sequence(first, last)).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        (start - col("cum_before")).as("doc_off"),
        (start - col("seq_id") * seqLen).as("seq_off"),
        (end - start).as("n_toks"))
  }

  /**
   * The Gopher quality-rule bundle (Rae et al. 2021, arXiv:2112.11446
   * §A1.1) as per-document rule BOOLEANS plus the conjunction — the
   * standard pre-training document filter, kept per-rule so a curation
   * run can audit WHICH gate fails before committing to the drop (the
   * pass/fail mix is the tuning signal):
   *
   *  - word count within [minWords, maxWords];
   *  - mean word length within [3, 10] — compared as the integer
   *    cross-multiply 3·n ≤ Σlen ≤ 10·n, no division;
   *  - symbol-to-word ratio ('#' and '...' occurrences) ≤ 0.1 —
   *    10·symbols ≤ n;
   *  - ≥ 80% of words contain an alphabetic character — 5·n_alpha ≥ 4·n;
   *  - at least `minRequiredHits` DISTINCT words from `requiredWords`
   *    (the C4/Gopher "must look like language" stopword gate).
   *
   * Every comparison is exact integer arithmetic (BIGINT on both
   * engines — no rounding anywhere), and everything is one scan-stage
   * select over per-row array expressions: no shuffle, no join, the
   * 100 TB filter shape. Line-based Gopher rules (bullet-start /
   * ellipsis-end line fractions, duplicate-line fraction) are N/A on
   * this corpus's single-line documents and intentionally absent.
   */
  /** The gopher measure columns (n_words, sum_word_len, n_symbols,
    * n_alpha, n_required) as pure per-row expressions over `text` —
    * single-sourced so the audit table ([[gopherRules]]) and the
    * stream-safe gate ([[gopherFilter]]) can never drift. */
  private def gopherMeasures(requiredWords: Seq[String],
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii)
      : (Column, Column, Column, Column, Column) = {
    val t = coalesce(col("text"), lit(""))
    // word-level measures run on the TOKENIZED surface (the multilingual
    // on-ramp: under Ascii a Cyrillic doc's "words" carry punctuation and
    // case, so word-length/stopword gates misread them); the symbol
    // counts stay on the RAW surface by construction — '#' and '...' are
    // exactly what normalization deletes, so a normalized symbol count
    // would always read 0.
    val ws = filter(words(tok.prep(t)), w => w =!= "")
    val n = size(ws).cast("long")
    val sumLen = coalesce(
      aggregate(ws, lit(0L), (a, x) => a + length(x).cast("long")), lit(0L))
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEll = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
      .cast("long")
    // "contains an alphabetic char": ASCII letters on the historical
    // surface (every pre-round-15 hash), any Unicode letter under the
    // multilingual tokenizer — [a-zA-Z] is precisely the gate that
    // zeroes out on non-Latin scripts.
    val letterRe =
      if (tok.name == DedupOps.Tokenizer.Unicode.name) "\\p{L}" else "[a-zA-Z]"
    val nAlpha = size(filter(ws, w => w.rlike(letterRe))).cast("long")
    val req = array(requiredWords.map(lit): _*)
    val nReq = size(filter(array_distinct(ws), w => array_contains(req, w)))
      .cast("long")
    (n, sumLen, nHash + nEll, nAlpha, nReq)
  }

  /** The five rule booleans over the measure expressions, in funnel
    * order. */
  private def gopherBooleans(minWords: Long, maxWords: Long,
      minRequiredHits: Int, n: Column, sumLen: Column, nSym: Column,
      nAlpha: Column, nReq: Column): Seq[Column] = Seq(
    n >= minWords && n <= maxWords,
    n > 0 && sumLen >= lit(3L) * n && sumLen <= lit(10L) * n,
    n > 0 && lit(10L) * nSym <= n,
    n > 0 && lit(5L) * nAlpha >= lit(4L) * n,
    nReq >= minRequiredHits.toLong)

  /** The audit-column name of each [[gopherBooleans]] rule, in order. */
  private[graft] val gopherRuleNames = Seq("ok_word_count", "ok_mean_word_len",
    "ok_symbol_ratio", "ok_alpha_words", "ok_required_words")

  def gopherRules(docs: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L,
      requiredWords: Seq[String] = Seq("the", "a", "and", "of", "to"),
      minRequiredHits: Int = 2,
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): DataFrame = {
    val (n, sumLen, nSym, nAlpha, nReq) = gopherMeasures(requiredWords, tok)
    val rules = gopherBooleans(minWords, maxWords, minRequiredHits,
      col("n_words"), col("sum_word_len"), col("n_symbols"), col("n_alpha"),
      col("n_required"))
    docs.select(col("doc_id"), n.as("n_words"), sumLen.as("sum_word_len"),
        nSym.as("n_symbols"), nAlpha.as("n_alpha"), nReq.as("n_required"))
      .select(col("*") +: gopherRuleNames.zip(rules).map { case (name, r) =>
        r.as(name) }: _*)
      .withColumn("keep", gopherRuleNames.map(col).reduce(_ && _))
  }

  /** [[gopherRules]]'s keep conjunction as a pure FILTER on the input —
    * the STREAM-safe gate (a docs ⋈ gopherRules(docs) semi-join is a
    * stream-stream join Structured Streaming rejects in update mode;
    * the rules are per-row, so no join was ever needed). Row-identical
    * to semi-joining on `keep` (spec-pinned); composes in front of any
    * batch or streaming stage at zero shuffle cost. */
  def gopherFilter(docs: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L,
      requiredWords: Seq[String] = Seq("the", "a", "and", "of", "to"),
      minRequiredHits: Int = 2,
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): DataFrame = {
    val (n, sumLen, nSym, nAlpha, nReq) = gopherMeasures(requiredWords, tok)
    docs.filter(gopherBooleans(minWords, maxWords, minRequiredHits,
      n, sumLen, nSym, nAlpha, nReq).reduce(_ && _))
  }

  /**
   * Filter-funnel report over the [[gopherRules]] gates: one row per
   * rule IN ORDER with (n_checked, n_failed, n_surviving) where each
   * rule is evaluated only on the survivors of the previous ones — the
   * funnel a curation run reads to see where its volume goes (a rule
   * that fails 40% of the corpus FIRST hides what later rules would
   * have caught; the ordered funnel makes the attribution explicit).
   * Implementation: the per-rule booleans are one scan (q137's select);
   * the funnel is ONE aggregate over conjunction flags — rule k's
   * survivor count = Σ(rule₁ ∧ … ∧ ruleₖ) — so the report costs one
   * map-side-combined pass regardless of rule count, never k passes.
   */
  def filterFunnel(docs: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L,
      requiredWords: Seq[String] = Seq("the", "a", "and", "of", "to"),
      minRequiredHits: Int = 2,
      tok: DedupOps.Tokenizer = DedupOps.Tokenizer.Ascii): DataFrame = {
    val flags = gopherRules(docs, minWords, maxWords, requiredWords,
      minRequiredHits, tok)
    // cum_k = 1 iff rules 1..k all pass — computed as columns, so the
    // whole funnel is one aggregate row
    val cums = gopherRuleNames.scanLeft(lit(true))((acc, r) => acc && col(r)).tail
    val aggCols = cums.zipWithIndex.map { case (c, i) =>
      sum(when(c, 1L).otherwise(0L)).as(s"surv_$i")
    } :+ count(lit(1)).as("n_docs")
    val row = flags.agg(aggCols.head, aggCols.tail: _*)
    val spark = docs.sparkSession
    import spark.implicits._
    val order = gopherRuleNames.zipWithIndex.toDF("rule", "rule_no")
    def pick(f: Int => Column): Column =
      gopherRuleNames.indices.foldLeft(lit(null).cast("long")) { (acc, i) =>
        when(col("rule_no") === i, f(i)).otherwise(acc)
      }
    order.crossJoin(broadcast(row))
      .select(col("rule_no").cast("int").as("rule_no"), col("rule"),
        pick(i => if (i == 0) col("n_docs") else col(s"surv_${i - 1}"))
          .cast("long").as("n_checked"),
        pick(i => col(s"surv_$i")).cast("long").as("n_surviving"))
      .withColumn("n_failed", col("n_checked") - col("n_surviving"))
      .select(col("rule_no"), col("rule"), col("n_checked"),
        col("n_failed"), col("n_surviving"))
  }

  /**
   * Threshold-calibration sweep — the PR-curve table a pipeline reads
   * before committing to a filter cutoff: for each candidate threshold,
   * the exact confusion counts of the prediction `score ≤ t` (the
   * low-is-good convention of surprisal/perplexity gates; negate the
   * score for high-is-good) against a reference boolean label, plus
   * precision/recall as truncating permilles. The operational question
   * it answers: "where do I cut the cheap score so it reproduces the
   * expensive label" — CCNet/FineWeb tune every learned gate this way.
   *
   * Everything is exact: counts are conditional integer sums, the
   * permilles integral divisions (empty denominators read 0 via the
   * `greatest(·,1)` guard rather than erroring under ANSI). Score and
   * label must be non-null — a null would silently vanish from all four
   * cells, so it `raise_error`s instead (a calibration table must never
   * lose rows).
   *
   * Scale shape: ONE scan — the k-fold `explode` multiplies only a
   * projected (long, boolean) pair, and the aggregate is map-side
   * combined down to k rows before the single k-row shuffle. No joins,
   * no windows; k is the ladder size (≤ dozens), never data-driven.
   */
  def thresholdSweep(scored: DataFrame, score: Column, label: Column,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep needs a threshold ladder")
    scored.select(
      when(score.isNotNull, score.cast("long"))
        .otherwise(raise_error(lit("thresholdSweep: null score"))).as("s"),
      when(label.isNotNull, label.cast("boolean"))
        .otherwise(raise_error(lit("thresholdSweep: null label"))).as("y"))
      .select(col("s"), col("y"),
        explode(lit(thresholds.toArray)).as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("s") <= col("threshold") && col("y"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("s") <= col("threshold") && !col("y"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("s") > col("threshold") && col("y"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("s") > col("threshold") && !col("y"), 1L)
          .otherwise(0L)).as("tn"))
      .withColumn("precision_permille",
        expr("tp * 1000 div greatest(tp + fp, 1)"))
      .withColumn("recall_permille",
        expr("tp * 1000 div greatest(tp + fn, 1)"))
  }

  /**
   * Exact ROC-AUC of a LOW-is-good score against a boolean reference
   * label — the single-number companion to [[thresholdSweep]]'s
   * per-rung table (AUC is threshold-free: it ranks the score's whole
   * ordering, which is what you compare two candidate quality gates
   * by BEFORE picking either one's cutoff). Mann-Whitney form: with
   * positives the label-true docs and "positive ranks first" meaning
   * LOWER score, `auc_pairs2` is the exact INTEGER doubled pair count
   * 2·#{(p,n): s_p < s_n} + #{(p,n): s_p = s_n}, and
   * `auc = auc_pairs2 / (2·n_pos·n_neg)` is one IEEE division.
   *
   * Scale shape: one scan aggregates to the DISTINCT-SCORE table,
   * whose size is bounded by the score's VALUE DOMAIN, not the corpus
   * (an integer permille-style score has ≤ ~10⁵ distinct values at any
   * corpus size — same argument as vocabCoverage's count-of-counts);
   * the prefix window and the final fold run over that bounded table
   * only. Null score/label `raise_error` (a silent drop would bias the
   * pair counts). Integer bound: 2·n_pos·n_neg must fit int64 — beyond
   * ~2·10⁹ docs per class, stratify before calling.
   */
  def rankAuc(scored: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = scored.select(
      when(score.isNotNull, score.cast("long"))
        .otherwise(raise_error(lit("rankAuc: null score"))).as("s"),
      when(label.isNotNull, label.cast("boolean"))
        .otherwise(raise_error(lit("rankAuc: null label"))).as("y"))
    val g = s.groupBy("s").agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("np"),
      sum(when(col("y"), 0L).otherwise(1L)).as("nn"))
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum_pos", coalesce(sum(col("np")).over(w), lit(0L)))
      .agg(
        coalesce(sum(col("np")), lit(0L)).as("n_pos"),
        coalesce(sum(col("nn")), lit(0L)).as("n_neg"),
        coalesce(sum(col("nn") * col("cum_pos") * lit(2L) +
          col("np") * col("nn")), lit(0L)).as("auc_pairs2"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          TextFunctions.fround(col("auc_pairs2").cast("double") /
            (col("n_pos") * col("n_neg") * lit(2L)).cast("double"), 6))
          .otherwise(lit(0.0)))
  }

  /**
   * Padding-waste report for length-bucketed batching — the OTHER
   * batching strategy next to packing ([[packSequencesBy]] /
   * [[packSpanning]]): inference and finetuning loaders that cannot
   * concatenate documents instead sort them into length buckets, batch
   * `batchSize` at a time, and pad every member to its batch max. This
   * reports exactly what that costs: per length bucket
   * (`n_words div bucketWidth`), the docs/batches/token mass, the
   * padded mass, and the waste as a truncating permille — the table
   * that decides bucketWidth/batchSize (or that padding is unaffordable
   * and the spanning layout wins).
   *
   * Determinism: within a bucket, docs order by (n_words, doc_id) —
   * the length-sorted order real bucketed batching uses, total and
   * engine-portable. Shape: one scan projects (doc_id, n_words); the
   * per-bucket rank is a bucketed [[graft.ops.PrefixRank]] pass (never
   * a corpus-wide window — a single length bucket can hold most of a
   * real corpus); then two map-side-combined keyed aggregates.
   */
  def paddingWaste(docs: DataFrame, bucketWidth: Long = 64L,
      batchSize: Long = 16L): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1,
      s"bucketWidth/batchSize must be >= 1 (got $bucketWidth/$batchSize)")
    val base = docs.select(col("doc_id"),
      size(filter(TextFunctions.words(coalesce(col("text"), lit(""))),
        w => w =!= "")).cast("long").as("n_words"))
      .withColumn("bucket", expr(s"n_words div $bucketWidth"))
    val ranked = graft.ops.PrefixRank.keyedPrefix(base, Seq("bucket"),
      col("n_words"), TextFunctions.P, col("doc_id"))
    ranked
      .withColumn("batch", expr(s"(rnk - 1) div $batchSize"))
      .groupBy("bucket", "batch")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_len"),
        max(col("n_words")).as("max_len"))
      .withColumn("padded", col("n_docs") * col("max_len"))
      .groupBy("bucket")
      .agg(sum(col("n_docs")).as("n_docs"), count(lit(1)).as("n_batches"),
        sum(col("sum_len")).as("n_tokens"), sum(col("padded")).as("n_padded"))
      .withColumn("waste_permille",
        expr("(n_padded - n_tokens) * 1000 div greatest(n_padded, 1)"))
  }

  /**
   * Pattern redaction — the PII-scrub pass of a training-data pipeline
   * (emails, URLs, phone numbers in production; the pattern is a
   * parameter). Emits the match count per document alongside the
   * scrubbed text, so the pipeline can audit redaction volume and drop
   * documents above a threshold. Per-row regex, codegen'd, scan-stage.
   */
  def redacted(docs: DataFrame, pattern: String,
      replacement: String = "<redacted>"): DataFrame =
    docs
      .withColumn("n_redacted",
        size(regexp_extract_all(col("text"), lit(pattern), lit(0))).cast("long"))
      .withColumn("text_redacted",
        regexp_replace(col("text"), pattern, replacement))

  /**
   * Intra-document repetition signals (the Gopher-style boilerplate
   * filters): modal-word fraction and duplicate n-shingle fraction.
   * Highly repetitive documents (boilerplate, scraped navigation, SEO
   * spam) score high on both and are dropped before training.
   *
   * Shingle stats are per-row array expressions (no shuffle); the modal
   * word needs a doc-local frequency table, computed as explode →
   * two-level hash agg keyed on (doc_id, word) — linear rows, map-side
   * combined, the scalable shape at 100 TB (per-row O(tokens·distinct)
   * folds would be quadratic in document length).
   */
  def repetitionSignals(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = shingles(col("text"), n)
    val perRow = docs.select(col("doc_id"),
      size(sh).cast("long").as("n_shingles"),
      size(array_distinct(sh)).cast("long").as("n_shingles_distinct"))
    val freq = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_word_freq"), sum(col("c")).as("n_tokens"))
    freq.join(perRow, "doc_id")
      .withColumn("top_word_frac",
        fround(col("top_word_freq").cast("double") / col("n_tokens"), 4))
      .withColumn("dup_shingle_frac",
        when(col("n_shingles") > 0,
          fround(lit(1.0) -
            col("n_shingles_distinct").cast("double") / col("n_shingles"), 4))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_tokens"), col("top_word_freq"),
        col("top_word_frac"), col("n_shingles"), col("dup_shingle_frac"))
  }

  /**
   * Gopher-style repetition COVERAGE (Rae et al. 2021, table A1): per
   * (document, n) the exact character mass covered by repeated
   * n-grams — the boilerplate detector [[repetitionSignals]]' modal
   * word and distinct-shingle ratio summarize coarsely. Two readouts:
   *
   *  - `top_cov` — max over the doc's n-grams of count·charlen: the
   *    character coverage of the single heaviest n-gram. (Gopher picks
   *    "the most frequent n-gram" and measures its chars; maximizing
   *    the coverage product directly is tie-free — when two grams share
   *    the top count, the one covering more characters IS the filter's
   *    concern — and engine-portable with no tie-break convention.)
   *  - `dup_cov` — Σ over grams occurring ≥ 2× of count·charlen: the
   *    repeated-mass signal for the larger n rungs. Overlapping
   *    occurrences are NOT de-overlapped (each occurrence counts its
   *    full span, as in the standard implementations), so the fraction
   *    can exceed 1 on degenerate all-repetition docs — a threshold
   *    gate reads that as "maximally repetitive", which is correct.
   *
   * Small n rungs (2–4) read `top_frac` (one dominant phrase), large
   * rungs (5, 10) read `dup_frac` (any repeated long run) — the paper's
   * split. All coverages exact integers; fractions are fround'd ratios.
   *
   * Scale shape: one explode per rung (linear rows: Σ|doc| per rung)
   * through a two-level map-side-combined aggregate keyed (doc, n,
   * gram) then (doc, n) — the [[repetitionSignals]] modal-word shape;
   * per-row O(tokens·distinct) array folds would be quadratic in
   * document length. Text bytes never shuffle; gram strings do (they
   * are the aggregation key, same class as every shingle pass).
   */
  def repetitionCoverage(docs: DataFrame,
      ns: Seq[Int] = Seq(2, 3, 4, 5, 10)): DataFrame = {
    require(ns.nonEmpty, "repetitionCoverage needs at least one rung")
    val base = docs.select(col("doc_id"),
        coalesce(col("text"), lit("")).as("t"))
      .withColumn("ws", filter(split(col("t"), " "), w => w =!= ""))
    val grams = ns.map { n =>
      base.filter(size(col("ws")) >= n)
        .select(col("doc_id"), lit(n).as("n"),
          explode(transform(sequence(lit(0), size(col("ws")) - n),
            i => array_join(slice(col("ws"), i + 1, lit(n)), " "))).as("gram"))
    }.reduce(_ unionByName _)
    val agg = grams.groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "n")
      .agg(max(col("cnt") * length(col("gram")).cast("long")).as("top_cov"),
        coalesce(sum(when(col("cnt") >= 2,
          col("cnt") * length(col("gram")).cast("long"))), lit(0L))
          .as("dup_cov"))
    base.select(col("doc_id"), length(col("t")).cast("long").as("n_chars"))
      .withColumn("n", explode(array(ns.map(lit): _*)))
      .join(agg, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"), col("n_chars"),
        coalesce(col("top_cov"), lit(0L)).as("top_cov"),
        coalesce(col("dup_cov"), lit(0L)).as("dup_cov"))
      .withColumn("top_frac", fround(col("top_cov").cast("double") /
        greatest(col("n_chars"), lit(1L)).cast("double"), 4))
      .withColumn("dup_frac", fround(col("dup_cov").cast("double") /
        greatest(col("n_chars"), lit(1L)).cast("double"), 4))
  }

  /**
   * Pipeline stage funnel: one row per named stage frame with its
   * document count and whitespace-token mass, in pipeline order. The
   * composed-pipeline complement of [[filterFunnel]] (which attributes
   * survivors to RULES inside one gate): this attributes corpus mass to
   * STAGES of a multi-operator pipeline — where did the tokens go, and
   * which stage would repay tuning first. Stage frames are expected to
   * be the pipeline's own intermediates (already `localCheckpoint`ed in
   * the flagship compositions), so each count is one cheap aggregate
   * over an in-memory frame, not a re-derivation.
   */
  def stageFunnel(stages: Seq[(String, DataFrame)]): DataFrame = {
    require(stages.nonEmpty, "stageFunnel needs at least one stage")
    stages.zipWithIndex.map { case ((name, df), i) =>
      df.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(split(coalesce(col("text"), lit("")), " "))
          .cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    }.reduce(_ unionByName _)
  }

  /**
   * Text-column hygiene report — [[graft.llm.SimilaritySearch
   * .embeddingHygiene]]'s parity for the documents table: exact counts
   * of null text, empty text, whitespace-only text, control-character
   * carriers (NUL and friends — NOT tab/newline/CR, which are ordinary
   * text; the C0 strays are the rows that break naive exports), and docs over a length cap (the row a
   * 2 GB-string UDF dies on at full scale), plus the clean remainder.
   * Every text operator here documents how it routes these classes;
   * this surfaces their VOLUME before a pipeline quietly routes 10% of
   * a crawl around itself. One scan, one 1-row aggregate.
   */
  def textHygiene(docs: DataFrame, maxChars: Long = 1000000L): DataFrame = {
    val t = col("text")
    val isEmpty = t.isNotNull && length(t) === 0
    val wsOnly = t.isNotNull && length(t) > 0 && length(trim(t)) === 0
    val hasCtl = t.isNotNull && !isEmpty && !wsOnly &&
      t.rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    val tooLong = t.isNotNull && !isEmpty && !wsOnly && !hasCtl &&
      length(t) > maxChars
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(t.isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(isEmpty, 1L).otherwise(0L)).as("n_empty"),
      sum(when(wsOnly, 1L).otherwise(0L)).as("n_ws_only"),
      sum(when(hasCtl, 1L).otherwise(0L)).as("n_control"),
      sum(when(tooLong, 1L).otherwise(0L)).as("n_too_long"),
      sum(when(t.isNotNull && !isEmpty && !wsOnly && !hasCtl && !tooLong, 1L)
        .otherwise(0L)).as("n_clean"))
  }

  /**
   * Mixture drift between two corpus versions (typically: before vs
   * after a curation pipeline): per group, whitespace-token mass on
   * each side, each side's share of its own total (truncating
   * permille), and the SIGNED share drift. Dedup and decontamination
   * are not mixture-neutral — clone-heavy and leak-heavy sources lose
   * disproportionate mass, silently reweighting the mixture the data
   * design specified; this is that reweighting as a table, read before
   * anyone retunes domain weights against the wrong denominator.
   * Groups absent from EITHER side surface with that side's mass 0,
   * never as a dropped row (a stage that relabels a source must not
   * silently vanish from the table, nor leak out of the after-total).
   * Two group-keyed map-side-combined aggregates + broadcast totals.
   */
  def mixtureDrift(before: DataFrame, after: DataFrame,
      groupCol: String = "source"): DataFrame = {
    def massOf(df: DataFrame, as: String): DataFrame =
      df.groupBy(col(groupCol)).agg(
        coalesce(sum(size(split(coalesce(col("text"), lit("")), " "))
          .cast("long")), lit(0L)).as(as))
    val b = massOf(before, "tok_before")
    val a = massOf(after, "tok_after")
    val per = b.join(a, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        coalesce(col("tok_before"), lit(0L)).as("tok_before"),
        coalesce(col("tok_after"), lit(0L)).as("tok_after"))
    val tot = per.agg(
      coalesce(sum(col("tok_before")), lit(0L)).as("t_b"),
      coalesce(sum(col("tok_after")), lit(0L)).as("t_a"))
    per.crossJoin(broadcast(tot))
      .withColumn("share_before_permille",
        expr("tok_before * 1000 div greatest(t_b, 1)"))
      .withColumn("share_after_permille",
        expr("tok_after * 1000 div greatest(t_a, 1)"))
      .withColumn("drift_permille",
        col("share_after_permille") - col("share_before_permille"))
      .drop("t_b", "t_a")
  }

  /**
   * Decontamination-gate agreement: pairwise overlap of the doc sets
   * each gate flags — (gate_a, gate_b, n_a, n_b, n_both) for every gate
   * pair. The gates catch DIFFERENT leak modes by construction (exact =
   * verbatim whole-doc, unicode = case/punct-variant whole-doc, fuzzy =
   * dominating partial overlap, winnow = embedded local passage), so
   * near-total overlap means a gate is redundant on THIS corpus and
   * near-zero overlap means each is carrying real coverage the others
   * miss — measured, per corpus, instead of assumed. [[graft.llm
   * .DedupOps.pairSetScorecard]]'s idea applied to doc-set gates.
   *
   * Shape: per pair one doc_id-keyed semi-join + three 1-row
   * broadcast-composed aggregates over id sets the caller already
   * materialized (pass checkpointed flag frames — each set is probed
   * once per pair).
   */
  def gateAgreement(gates: Seq[(String, DataFrame)]): DataFrame = {
    require(gates.size >= 2, "gateAgreement needs at least two gates")
    val named = gates.map { case (nm, df) => nm -> df.select(col("doc_id")) }
    val rows = for {
      i <- named.indices
      j <- named.indices if i < j
    } yield {
      val (na, a) = named(i)
      val (nb, b) = named(j)
      val ca = a.agg(count(lit(1)).as("n_a"))
      val cb = b.agg(count(lit(1)).as("n_b"))
      val cboth = a.join(b, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_both"))
      ca.crossJoin(broadcast(cb)).crossJoin(broadcast(cboth))
        .select(lit(na).as("gate_a"), lit(nb).as("gate_b"),
          col("n_a"), col("n_b"), col("n_both"))
    }
    rows.reduce(_ unionByName _)
  }

  /**
   * Shuffle-quality audit over a training order: the fraction of
   * ADJACENT pairs drawn from the same group (source), against the
   * expectation under an independent shuffle (Σ n_g·(n_g−1) /
   * N·(N−1)). A loader consuming a badly-shuffled order sees runs of
   * same-source documents — correlated gradients the mixture design
   * never intended; `same_adjacent_permille ≫ expected_permille` is
   * that failure as one number, BEFORE any training run pays for it.
   *
   * `ordered` is (doc_id, ord) with `ord` a dense global 1..N (the
   * [[trainingOrder]] contract); `meta` supplies the group column.
   * Shape: one equi-join keyed on the dense rank (each row meets its
   * successor — a shuffle-keyed join, never a global window), one
   * 1-row aggregate each side, DECIMAL(38,0) cross-multiplies for the
   * expectation so N² never overflows.
   */
  def shuffleQuality(ordered: DataFrame, meta: DataFrame,
      groupCol: String = "source"): DataFrame = {
    val o = ordered.select(col("doc_id"), col("ord"))
      .join(meta.select(col("doc_id"), col(groupCol)), "doc_id")
    val adj = o.select((col("ord") - 1L).as("ord"),
        col(groupCol).as("g_next"))
      .join(o.select(col("ord"), col(groupCol).as("g")), "ord")
      .agg(count(lit(1)).as("n_adjacent"),
        sum(when(col("g") === col("g_next"), 1L).otherwise(0L)).as("n_same"))
    val tot = meta.groupBy(col(groupCol)).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"),
        coalesce(sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")),
          lit(0L).cast("decimal(38,0)")).as("same_pairs2"))
    adj.crossJoin(broadcast(tot))
      .select(col("n_docs"), col("n_adjacent"), col("n_same"),
        expr("CAST(n_same * 1000 div greatest(n_adjacent, 1) AS BIGINT)")
          .as("same_adjacent_permille"),
        expr("""CAST(same_pairs2 * 1000 div
                greatest(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1), 1)
                AS BIGINT)""").as("expected_permille"))
  }

  /**
   * Same-group RUN-LENGTH histogram over a training order — the tail
   * view behind [[shuffleQuality]]'s rate: a fine same-source average
   * can hide one pathological run (an entire source landing
   * contiguously), and it is the LONG runs that produce correlated
   * batches. One row per (group, run_len): how many maximal runs of
   * exactly that length the order contains.
   *
   * Shape: gap-and-islands (`ord − row_number() within group` is
   * constant exactly on a maximal run), with the within-group rank
   * computed by [[graft.ops.PrefixRank.keyedPrefix]] — a window
   * partitioned only by the group column would send EVERY row of a
   * group to one task, and a 90%-one-source pretraining mix makes that
   * partition ≈ the whole order (the exact hot-source serialization
   * keyedPrefix exists to kill). `ord` is the bucketable order key: a
   * training order's positions are a dense 1..N, so `keyBound = max(ord)
   * + 1` comes from one 1-row aggregate over the two-column order frame
   * (the collect-the-model pattern) and buckets are perfectly balanced.
   * Then two tiny keyed aggregates. Same (doc_id, ord) + meta contract
   * as [[shuffleQuality]].
   */
  def orderRunLengths(ordered: DataFrame, meta: DataFrame,
      groupCol: String = "source"): DataFrame = {
    // checkpoint the 3-column joined frame FIRST: the keyBound aggregate
    // and the rank pass would otherwise each re-evaluate the order's
    // whole upstream lineage (trainingOrder is itself a ranked pass)
    val o = ordered.select(col("doc_id"), col("ord"))
      .join(meta.select(col("doc_id"), col(groupCol)), "doc_id")
      .localCheckpoint(true)
    val bound = 1L + o
      .agg(coalesce(max(col("ord")), lit(0L)).cast("long")).head().getLong(0)
    graft.ops.PrefixRank.keyedPrefix(o, Seq(groupCol),
        orderKey = col("ord"), keyBound = bound,
        tieBreaker = col("doc_id"), rankName = "grp_rnk")
      .withColumn("island", col("ord") - col("grp_rnk"))
      .groupBy(col(groupCol), col("island"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col(groupCol), col("run_len"))
      .agg(count(lit(1)).as("n_runs"))
  }

  /**
   * Distinct-n diversity per group: for each n in 1..maxN, the group's
   * total n-gram instances, distinct n-gram count, and their truncating
   * permille ratio — the standard distinct-1/distinct-2 diversity metric
   * (Li et al. 2016, "A Diversity-Promoting Objective Function for
   * Neural Conversation Models") lifted from generation eval to corpus
   * triage: a source whose distinct-2 permille collapses is template /
   * machine-generated mass that will dominate gradient updates long
   * before any pair-emitting dedup family can afford to look at it.
   * [[repetitionSignals]] is the same idea per DOCUMENT; this is the
   * per-SOURCE rollup that decides which sources are worth the pair
   * pass at all.
   *
   * Shape: per n, one scan exploding the native shingle-hash stream
   * (grams travel as longs, never strings) into a (group, hash)-keyed
   * map-side-combined count, then a group-keyed rollup — distinct counts
   * come from the first aggregate's row count, so no count-distinct
   * Expand anywhere. maxN scans total, each shuffle bounded by the
   * distinct-gram population.
   */
  def ngramDiversity(docs: DataFrame, maxN: Int = 3,
      groupCol: String = "source"): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1 (got $maxN)")
    val perN = (1 to maxN).map { n =>
      docs.select(col(groupCol),
          explode(shingleHashList(col("text"), n)).as("h"))
        .groupBy(col(groupCol), col("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col(groupCol))
        .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
        .withColumn("n", lit(n.toLong))
    }
    perN.reduce(_ unionByName _)
      .withColumn("distinct_permille",
        expr("n_distinct * 1000 div greatest(n_grams, 1)"))
      .select(col(groupCol), col("n"), col("n_grams"), col("n_distinct"),
        col("distinct_permille"))
  }

  /**
   * Benchmark decontamination: drop corpus documents whose NORMALIZED
   * fingerprint appears in the benchmark/eval set — the leakage guard
   * every training pipeline runs before a data release. Normalization
   * (strip non-alnum, collapse spaces) catches trivially-reformatted
   * copies; the benchmark side reduces to a distinct fingerprint set and
   * broadcasts, so the corpus is scrubbed in one scan with zero shuffle
   * of corpus rows.
   */
  def decontaminated(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    def normFp(c: Column): Column =
      polyHash(regexp_replace(regexp_replace(c, "[^a-z0-9 ]", ""), " +", " "))
    val bench = benchmark.select(normFp(col("text")).as("bench_fp")).distinct()
    corpus.join(org.apache.spark.sql.functions.broadcast(bench),
      normFp(col("text")) === col("bench_fp"), "left_anti")
  }

  /**
   * [[decontaminated]] through the unicode-aware normalizer
   * ([[TextFunctions.normalizeUnicode]]): the exact gate becomes CASE-
   * and punctuation-insensitive and multilingual — an uppercased or
   * re-punctuated copy of a benchmark item slips the ASCII gate (whose
   * `[^a-z0-9 ]` strip is case-SENSITIVE: capitals are deleted, not
   * folded), and a non-Latin benchmark normalizes to "" there, matching
   * nothing. Same broadcast anti-join shape; null corpus text never
   * matches (null fingerprint, anti-join keeps it).
   */
  def unicodeDecontaminated(corpus: DataFrame,
      benchmark: DataFrame): DataFrame = {
    def ufp(c: Column): Column = polyHash(TextFunctions.normalizeUnicode(c))
    val bench = benchmark.select(ufp(col("text")).as("bench_fp"))
      .filter(col("bench_fp").isNotNull).distinct()
    corpus.join(org.apache.spark.sql.functions.broadcast(bench),
      ufp(col("text")) === col("bench_fp"), "left_anti")
  }

  /**
   * Compression-ratio quality signal (the Gopher/RedPajama heuristic):
   * DEFLATE-compressed size over raw UTF-8 size per document. Highly
   * repetitive text (boilerplate, scraped navigation, SEO keyword
   * stuffing) compresses far below natural prose, so pipelines cut both
   * tails — near-zero ratios are template spam, near-1.0 ratios are
   * random noise/binary junk. Pure per-row native expression
   * (DeflateLenExpr, whole-stage codegen) — scan-stage, no shuffle.
   * zlib output has no cross-engine oracle, so this operator is
   * spec-checked (ordering + determinism), not hash-checked.
   */
  def compressionRatio(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      deflateLen(col("text")).as("n_deflate"))
      .withColumn("compression_ratio",
        when(col("n_bytes") > 0,
          fround(col("n_deflate").cast("double") / col("n_bytes"), 4))
          .otherwise(lit(0.0)))

  /**
   * Two-phase Bloom decontamination — the 100 TB shape of
   * [[decontaminated]]. When the benchmark set is too large to broadcast
   * comfortably, an exact anti-join shuffles EVERY corpus row on its
   * fingerprint; here a Bloom filter over the benchmark fingerprints
   * (one aggregation job; ~1.2 MB per million items at 1% fpp) ships
   * into the corpus scan as a codegen'd [[org.apache.spark.sql.catalyst
   * .expressions.BloomFilterMightContain]] literal — native Catalyst,
   * no UDF. Bloom-negative rows are DEFINITELY clean and bypass the
   * join entirely; only true hits plus the ~fpp false-positive tail
   * (the "maybe" branch) enters the exact anti-join, so the shuffle
   * carries ~1% of the corpus instead of 100%. The corpus is scanned
   * twice (both branches push the same pruned scan) — at scale two
   * column-pruned scans are far cheaper than one full-corpus shuffle.
   * The result is EXACT and row-identical to [[decontaminated]]: the
   * Bloom filter only routes rows, never decides membership (no false
   * negatives by construction; false positives are re-checked).
   */
  def bloomDecontaminated(corpus: DataFrame, benchmark: DataFrame,
      expectedItems: Long = 100000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    def normFp(c: Column): Column =
      polyHash(regexp_replace(regexp_replace(c, "[^a-z0-9 ]", ""), " +", " "))
    val bench = benchmark.select(normFp(col("text")).as("bench_fp")).distinct()
    // Spark 4.1's stat.bloomFilter NPEs on zero input rows (the internal
    // bloom_filter_agg aggregates to null and BloomFilter.readFrom(null)
    // throws before any public check can run). An empty benchmark
    // legitimately means "nothing to scrub" — and catching the NPE here
    // beats a bench.isEmpty pre-check, which would run the whole
    // benchmark-side normalize+distinct pipeline one extra time in
    // exactly the large-benchmark regime this operator exists for.
    // This is a contamination SAFETY gate, so the shortcut must not fail
    // open: before returning the corpus unscrubbed, confirm the benchmark
    // really is empty (a cheap limit(1) probe, only on the NPE path) and
    // rethrow if it isn't — an NPE with a non-empty benchmark means the
    // failure mode changed and silently skipping the scrub would pass
    // contaminated rows as clean.
    val bf =
      try bench.stat.bloomFilter("bench_fp", expectedItems, fpp)
      catch {
        case npe: NullPointerException =>
          // "Empty" must mean no non-null FINGERPRINTS, not no rows: a
          // benchmark whose rows all have null text yields only a null
          // bench_fp, which matches nothing in the exact gate — the
          // correct result is still the unscrubbed corpus, and the
          // stat.bloomFilter NPE is the same zero-input failure mode.
          if (bench.filter(col("bench_fp").isNotNull).limit(1).isEmpty) {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              "bloomDecontaminated: benchmark has no non-null fingerprints; " +
                "returning corpus unmodified")
            return corpus
          } else throw npe
      }
    val bytes = {
      val os = new java.io.ByteArrayOutputStream()
      bf.writeTo(os)
      os.toByteArray
    }
    def might(c: Column): Column = ofExpr(BloomFilterMightContain(
      Literal(bytes, org.apache.spark.sql.types.BinaryType), exprOf(c)))
    val fp = normFp(col("text"))
    // Null text never reaches the bench side (its join key is null, so the
    // anti-join keeps it) — route it to the clean branch to match
    // decontaminated() exactly.
    val clean = corpus.filter(!coalesce(might(fp), lit(false)))
    val maybes = corpus.filter(coalesce(might(fp), lit(false)))
      .join(bench, fp === col("bench_fp"), "left_anti") // AQE picks the strategy
    clean.unionByName(maybes)
  }

  /**
   * Temperature-weighted source mixture sampling — the data-mixing step
   * of multi-corpus pretraining: source s with n_s documents receives a
   * quota ∝ √n_s (temperature α = 1/2), the sublinear weighting that
   * upsamples small sources relative to proportional sampling, then its
   * quota is filled by the deterministic salted-hash order (stable
   * across reruns and machines). Returns the selected rows as
   * (doc_id, group, rnk); a source with fewer rows than its quota
   * contributes everything it has.
   *
   * Determinism contract: √ is correctly rounded per IEEE-754
   * (bit-identical across engines — unlike ln/exp); weights scale to
   * integers (·10⁴, half-up) before an order-free BIGINT sum; quotas
   * use true integer division. Null text orders as the empty string
   * (the salted hash of a null would otherwise sort NULLS FIRST on
   * Spark but NULLS LAST on an oracle engine — and a sampler must not
   * drop rows whose content is merely unknown).
   *
   * The salt is a PREFIX for the same reason as [[trainingOrder]]'s: a
   * suffixed same-length salt shifts every rolling-hash key by a
   * near-constant, so "re-salt for a different sample" would barely
   * change the fill order (and hence the selected set). Prepending
   * perturbs the initial fold state, so every key diverges and a new
   * salt draws a genuinely different sample (spec-pinned).
   *
   * Scale shape: the per-source rank comes from
   * [[graft.ops.PrefixRank.keyedPrefix]] — deterministic hash-range
   * buckets, per-(bucket, source) local ranks, broadcast offsets — NOT
   * `Window.partitionBy(source)`, which would sort the largest source
   * (possibly tens of TB of a pretraining mix) on a single task. The
   * quota table (one row per source) broadcasts.
   */
  def mixtureSample(docs: DataFrame, groupCol: String = "source",
      budget: Long = 200L, salt: String = "graft"): DataFrame = {
    val weights = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_grp"))
      .withColumn("w",
        floor(sqrt(col("n_grp").cast("double")) * 10000d + lit(0.5)).cast("long"))
    val tot = weights.agg(sum(col("w")).as("w_total"))
    // budget·w widened to DECIMAL(38,0) before the integral division —
    // same overflow reasoning as mixtureSampleTokens' quota: a 10¹⁰-doc
    // source gives w = 10⁹, and budget·w past 2⁶³ would wrap to a
    // negative quota, silently zeroing the source's contribution.
    val quotas = weights.crossJoin(
      org.apache.spark.sql.functions.broadcast(tot))
      .select(col(groupCol),
        expr(s"CAST(CAST($budget AS DECIMAL(38,0)) * w div w_total AS BIGINT)")
          .as("quota"))
    // rnk stays the Long PrefixRank computed: casting to int would wrap
    // negative past 2³¹ rows per source — exactly the hot-source regime
    // the bucketed rank exists for — and a negative rnk passes every
    // quota filter.
    graft.ops.PrefixRank.keyedPrefix(docs, Seq(groupCol), saltedKey(salt),
      P, col("doc_id"))
      .join(org.apache.spark.sql.functions.broadcast(quotas), groupCol)
      .filter(col("rnk") <= col("quota"))
      .select(col("doc_id"), col(groupCol), col("rnk"))
  }

  /**
   * Token-budget mixture sampling — [[mixtureSample]] with the budget in
   * TOKENS, which is what a pretraining mix actually allocates: source s
   * receives a token quota ∝ √(tokens_s) (temperature α = 1/2 over token
   * mass, not doc counts), then docs fill it in the deterministic
   * salted-hash order until the INCLUSIVE cumulative token count reaches
   * the quota — so the budget may be overshot by at most one document,
   * never undershot while candidates remain. Returns
   * (doc_id, group, n_tokens, rnk, cum_tokens) for the selected rows.
   *
   * Same determinism contract as [[mixtureSample]] (IEEE √, integer-
   * scaled weights, integer division, null text ordered as empty,
   * salt PREFIXED so re-salting genuinely re-draws);
   * tokens are whitespace tokens (empty-string words excluded, matching
   * tokenStats). The per-source rank AND running token sum come from one
   * [[graft.ops.PrefixRank.keyedPrefix]] pass — bucketed local windows
   * plus broadcast per-source offsets — so a hot source's prefix sum is
   * spread over all buckets instead of serialized on a single task (the
   * shape a 95%-one-source pretraining mix dies in; see SCALE.md).
   */
  def mixtureSampleTokens(docs: DataFrame, groupCol: String = "source",
      tokenBudget: Long = 10000L, salt: String = "graft"): DataFrame =
    mixtureSampleTokensBy(docs,
      size(filter(words(col("text")), w => w =!= "")).cast("long"),
      groupCol, tokenBudget, salt)

  /**
   * [[mixtureSampleTokens]] with a caller-supplied token-count
   * expression — the hook real tokenization plugs into
   * ([[Bpe.tokenCount]]): quotas then allocate ACTUAL subword-token
   * mass, not whitespace proxies. Same shuffle shape (the count is a
   * scan-stage expression, the rank/prefix-sum pass is unchanged).
   */
  def mixtureSampleTokensBy(docs: DataFrame, nTokens: Column,
      groupCol: String = "source", tokenBudget: Long = 10000L,
      salt: String = "graft"): DataFrame = {
    // null text counts 0 tokens: size(null) is NULL under ANSI, and a
    // null token count would both mis-render the output column and break
    // the running sum's window parity (PrefixRank's sums contract
    // requires non-null inputs — an all-null cell prefix folds to NULL
    // where a window would carry the earlier cells' offset).
    val toks = docs.withColumn("n_tokens", coalesce(nTokens, lit(0L)))
    val weights = toks.groupBy(col(groupCol))
      .agg(sum(col("n_tokens")).as("tok_grp"))
      .withColumn("w",
        floor(sqrt(col("tok_grp").cast("double")) * 10000d + lit(0.5)).cast("long"))
    val tot = weights.agg(sum(col("w")).as("w_total"))
    // budget·w is widened to DECIMAL(38,0) before the integral division:
    // at real token scales (a 10¹³-token source gives w ≈ 3·10¹⁰; a
    // 10¹³-token budget) the long product overflows 2⁶³ and would wrap to
    // a negative quota, silently zeroing the source's contribution. `div`
    // on decimals is exact integral division on both engines.
    // w_total = 0 (EVERY source all-empty text) would make the integral
    // division raise under ANSI mode — an all-empty corpus should sample
    // to zero rows, not error (same guard as the epochs term below).
    val quotas = weights.crossJoin(
      org.apache.spark.sql.functions.broadcast(tot))
      .select(col(groupCol),
        expr(s"CAST(CASE WHEN w_total > 0 THEN CAST($tokenBudget AS DECIMAL(38,0)) * w div w_total ELSE 0 END AS BIGINT)")
          .as("quota"))
    // Long rnk for the same reason as mixtureSample's.
    graft.ops.PrefixRank.keyedPrefix(toks, Seq(groupCol), saltedKey(salt),
      P, col("doc_id"), sums = Seq((col("n_tokens"), "cum_tokens")))
      .join(org.apache.spark.sql.functions.broadcast(quotas), groupCol)
      .filter(col("cum_tokens") - col("n_tokens") < col("quota"))
      .select(col("doc_id"), col(groupCol), col("n_tokens"),
        col("rnk"), col("cum_tokens"))
  }

  /**
   * DoReMi-weighted mixture materialization — [[Retrieval.doremiMixture]]
   * turned into an actual selection, so the reweighted permilles become a
   * training corpus rather than a report. Each domain receives a bigram-
   * mass quota ∝ its multiplicative weight `mass·(10⁴ + excess)` (the
   * exact integer MW step of the mixture report — hard domains get MORE
   * than their raw share, the junk zero-mass floor gets exactly 0), then
   * docs fill the quota in the deterministic salted-hash order until the
   * inclusive cumulative bigram mass reaches it — overshoot at most one
   * document, never undershot while candidates remain (the
   * [[mixtureSampleTokensBy]] fill rule, with mass measured in the SAME
   * unit the weights were derived from, so quota and fill share one
   * denominator).
   *
   * Determinism contract: the weight chain is q151's exact integer
   * arithmetic end-to-end (bit-length surprisal, DECIMAL(38,0)
   * cross-multiplies, `div`); the fill order is the shared salt-PREFIXED
   * rolling-hash key; null text masses 0 and orders as the empty string.
   *
   * Scale shape: the surprisal scoring is [[Retrieval.bigramSurprisal]]'s
   * term-keyed joins; the quota table is one row per domain (broadcast);
   * the per-domain rank AND running mass come from ONE
   * [[graft.ops.PrefixRank.keyedPrefix]] pass — bucketed local windows
   * plus broadcast offsets, never `Window.partitionBy(domain)` over the
   * corpus.
   */
  def doremiSelect(docs: DataFrame, train: DataFrame,
      massBudget: Long = 5000L, domainCol: String = "source",
      salt: String = "graft", minCount: Long = 1L): DataFrame = {
    val mix = Retrieval.doremiMixture(docs, train, domainCol, minCount)
      .select(col("domain").as(domainCol),
        expr("CAST(n_bigrams AS DECIMAL(38,0)) * " +
          "CAST(10000 + excess_scaled AS DECIMAL(38,0))").as("w"))
    val tot = mix.agg(sum(col("w")).cast("decimal(38,0)").as("w_total"))
    // budget·w widened to DECIMAL(38,0) before the integral division —
    // same wrap-to-negative-quota overflow reasoning as the √-weighted
    // mixtures; w_total = 0 (all-junk corpus) selects zero rows, not an
    // ANSI division error.
    val quotas = mix.crossJoin(
      org.apache.spark.sql.functions.broadcast(tot))
      .select(col(domainCol),
        expr(s"CAST(CASE WHEN w_total > 0 THEN CAST($massBudget AS " +
          "DECIMAL(38,0)) * w div w_total ELSE 0 END AS BIGINT)")
          .as("quota"))
    // per-doc bigram mass = max(words − 1, 0): identical to the count
    // bigramSurprisal aggregates, so the quota's denominator and the
    // fill's numerator are the same unit (coalesce BEFORE greatest —
    // Spark's greatest skips nulls but the oracle engine's propagates).
    val withMass = docs.withColumn("n_bigrams",
      greatest(coalesce(
        size(filter(words(col("text")), w => w =!= "")).cast("long"),
        lit(0L)) - 1L, lit(0L)))
    graft.ops.PrefixRank.keyedPrefix(withMass, Seq(domainCol),
      saltedKey(salt), P, col("doc_id"),
      sums = Seq((col("n_bigrams"), "cum_mass")))
      .join(org.apache.spark.sql.functions.broadcast(quotas), domainCol)
      .filter(col("cum_mass") - col("n_bigrams") < col("quota"))
      .select(col("doc_id"), col(domainCol), col("n_bigrams"),
        col("rnk"), col("cum_mass"))
  }

  /**
   * Epoch-aware mixture UPSAMPLING — what [[mixtureSampleTokens]] does
   * when a source's token quota EXCEEDS its size: instead of truncating
   * at one pass, the source is repeated. Source s with token mass nₛ and
   * quota qₛ (same α = 1/2 integer-scaled weights and DECIMAL(38,0)
   * division as the subsampler) contributes
   *
   *   epochsₛ = min(qₛ div nₛ, maxEpochs)   full passes, plus
   *   a fractional top-up of qₛ − epochsₛ·nₛ tokens (only below the cap)
   *
   * filled in the deterministic salted-hash order — the LLaMA/Pile
   * "epochs per source" recipe, with `maxEpochs` as the standard
   * repetition guard (repeating a small source beyond a few epochs is
   * memorization, not signal). Emits one row per (document, epoch):
   * (doc_id, group, n_tokens, epoch ∈ [0, occurrences), rnk), so
   * downstream packing/shuffling sees each repetition as a row.
   *
   * Scale shape: identical to [[mixtureSampleTokensBy]] — one
   * [[graft.ops.PrefixRank.keyedPrefix]] pass (bucketed ranks, never a
   * per-source window), the per-source plan broadcast as one tiny table,
   * and the repetition an `explode(sequence(...))` at scan stage (a doc
   * row fans out to its epoch count with no extra shuffle). Zero-token
   * sources (or an all-empty corpus) yield epochsₛ = 0 and no rows
   * rather than a division error.
   */
  def epochMixtureTokens(docs: DataFrame, groupCol: String = "source",
      tokenBudget: Long = 10000L, maxEpochs: Int = 4,
      salt: String = "graft"): DataFrame = {
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    val toks = docs.withColumn("n_tokens",
      coalesce(size(filter(words(col("text")), w => w =!= "")).cast("long"),
        lit(0L)))
    val weights = toks.groupBy(col(groupCol))
      .agg(sum(col("n_tokens")).as("tok_grp"))
      .withColumn("w",
        floor(sqrt(col("tok_grp").cast("double")) * 10000d + lit(0.5)).cast("long"))
    val tot = weights.agg(sum(col("w")).as("w_total"))
    // Same DECIMAL(38,0) widening as the subsampler's quota; epochs and
    // the remainder stay in exact integer arithmetic throughout.
    // w_total = 0 (EVERY source all-empty text) would make the integral
    // division raise under ANSI mode — the docstring's "no rows rather
    // than a division error" needs this guard, not just the per-source
    // epochs one below.
    val plan = weights.crossJoin(
      org.apache.spark.sql.functions.broadcast(tot))
      .select(col(groupCol), col("tok_grp"),
        expr(s"CAST(CASE WHEN w_total > 0 THEN CAST($tokenBudget AS DECIMAL(38,0)) * w div w_total ELSE 0 END AS BIGINT)")
          .as("quota"))
      .select(col(groupCol), col("tok_grp"), col("quota"),
        when(col("tok_grp") > 0,
          least(expr("quota div tok_grp"), lit(maxEpochs.toLong)))
          .otherwise(lit(0L)).as("epochs"))
      .select(col(groupCol), col("epochs"),
        when(col("epochs") < maxEpochs,
          col("quota") - col("epochs") * col("tok_grp"))
          .otherwise(lit(0L)).as("rem"))
    graft.ops.PrefixRank.keyedPrefix(toks, Seq(groupCol), saltedKey(salt),
      P, col("doc_id"), sums = Seq((col("n_tokens"), "cum_tokens")))
      .join(org.apache.spark.sql.functions.broadcast(plan), groupCol)
      .withColumn("occurrences",
        col("epochs") +
          when(col("cum_tokens") - col("n_tokens") < col("rem"), 1L)
            .otherwise(0L))
      // sequence(0, -1) DESCENDS in Spark — guard before exploding
      .filter(col("occurrences") >= 1L)
      .select(col("doc_id"), col(groupCol), col("n_tokens"), col("rnk"),
        explode(sequence(lit(0L), col("occurrences") - 1L)).as("epoch"))
      .select(col("doc_id"), col(groupCol), col("n_tokens"),
        col("epoch"), col("rnk"))
  }

  /**
   * Global training order over an UPSAMPLED mixture: every (doc, epoch)
   * row of [[epochMixtureTokens]] gets its own deterministic shuffle
   * position, with the EPOCH folded into the salt — so a repeated
   * document's occurrences land at independent positions across the run
   * (interleaved epochs, the order a trainer actually wants) instead of
   * back-to-back, which [[trainingOrder]] over an exploded mixture would
   * produce (same text ⇒ same key ⇒ adjacent ranks). Returns
   * (doc_id, group, n_tokens, epoch, order_key, ord) with `ord` a dense
   * global 1..N.
   *
   * Scale shape: the mixture pass is [[epochMixtureTokens]]'s; the text
   * re-join for the order key is doc_id-keyed; the global rank is the
   * bucketed [[graft.ops.PrefixRank.keyedPrefix]] with no group — hash
   * ranges spread the total order across all buckets (q100's shape).
   * The tiebreaker packs (doc_id, epoch) into one long so the order
   * stays total even under order-key collisions.
   */
  def epochTrainingOrder(docs: DataFrame, groupCol: String = "source",
      tokenBudget: Long = 10000L, maxEpochs: Int = 4,
      salt: String = "graft"): DataFrame = {
    val mix = epochMixtureTokens(docs, groupCol, tokenBudget, maxEpochs, salt)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    val key = polyHash(concat(lit(salt), lit("@e"), col("epoch").cast("string"),
      lit("#"), coalesce(col("text"), lit(""))))
    graft.ops.PrefixRank.keyedPrefix(
      mix.select(col("doc_id"), col(groupCol), col("n_tokens"), col("epoch"),
        key.as("order_key")),
      groupCols = Nil, orderKey = col("order_key"), keyBound = P,
      tieBreaker = col("doc_id") * lit(maxEpochs.toLong + 1L) + col("epoch"),
      rankName = "ord")
      .select(col("doc_id"), col(groupCol), col("n_tokens"), col("epoch"),
        col("order_key"), col("ord"))
  }

  /**
   * Per-source corpus report card — the one table an operator watches
   * over a curation run: per stratum, document and token counts, the
   * exact-duplicate count (fingerprint collisions within the stratum),
   * label-language spread, and mean quality. Everything deterministic:
   * counts are exact integer aggregates, the quality mean is one
   * division over the integer-scaled sum (never a float fold), and the
   * duplicate count derives from a fingerprint sub-aggregate rather
   * than a multi-distinct (no Expand row-multiplication — q103's
   * lesson applied to a profiling query that runs per-ingest).
   *
   * Scale: three map-side-combined aggregates keyed on (source[, fp |
   * lang]) joined on the tiny per-source frame. Null text fingerprints
   * as the empty string — unknown-content docs count as duplicates of
   * each other, which is what an ingest monitor wants to SEE, not hide.
   */
  /** The per-row feature base of the report card — ONE select (token
    * count, fingerprint, integer-scaled quality inlined from
    * [[qualityScore]]'s expressions), shared by the batch
    * [[corpusReport]] and the streaming
    * [[graft.streaming.StreamReport]]: no join, so the streaming side
    * never needs a stream-stream join, and the batch plan drops the
    * former qualityScore self-join for free. */
  private[graft] def reportFeatures(docs: DataFrame,
      groupCol: String): DataFrame = {
    val ws = words(col("text"))
    val nT = size(ws).cast("long")
    val nD = size(array_distinct(ws)).cast("long")
    val nS = size(filter(ws, w => array_contains(allStopLits, w))).cast("long")
    val quality = qualityBlendOf(nT, nD, nS)
    docs.select(col(groupCol), col("doc_id"), col("lang"),
      size(filter(words(coalesce(col("text"), lit(""))), w => w =!= ""))
        .cast("long").as("n_tokens"),
      polyHash(coalesce(col("text"), lit(""))).as("fp"),
      coalesce(floor(quality * 10000d + lit(0.5)).cast("long"), lit(0L))
        .as("qs"))
  }

  def corpusReport(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val base = reportFeatures(docs, groupCol)
    val perSrc = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("qs")).as("q_sum"))
    val dups = base.groupBy(col(groupCol), col("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(sum(col("c") - 1L).as("n_dup_docs"))
    val langs = base.groupBy(col(groupCol), col("lang"))
      .agg(count(lit(1)).as("lc"))
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n_langs"))
    perSrc.join(dups, groupCol).join(langs, groupCol)
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("n_dup_docs"), col("n_langs"),
        fround(col("q_sum").cast("double") /
          (col("n_docs").cast("double") * 10000d), 4).as("mean_quality"))
  }

  /**
   * Corpus-version diff — the dataset-iteration QA step: given two
   * versions of a corpus, emit one row per CHANGED document —
   * (doc_id, status ∈ added | removed | changed) — where `changed`
   * means the doc_id survives but its content fingerprint differs.
   * Unchanged documents (the overwhelming majority of any real
   * iteration) are deliberately NOT emitted: the diff is the small
   * output, and a reviewer reads it directly.
   *
   * Scale shape: both sides reduce to (doc_id, fp) longs at scan stage
   * (text never shuffles); the full-outer join moves 16-byte rows keyed
   * on doc_id. Null text fingerprints as the empty string, so a
   * null ↔ null revision is unchanged and a null ↔ text revision is
   * changed — content comparisons never silently pass on unknowns.
   */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    val fpOf = (d: DataFrame, name: String) => d.select(col("doc_id"),
      polyHash(coalesce(col("text"), lit(""))).as(name))
    fpOf(oldCorpus, "fp_old")
      .join(fpOf(newCorpus, "fp_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .as("status"))
      .filter(col("status").isNotNull)
  }

  /**
   * Training-shard export manifest — the WebDataset-style index a
   * trainer consumes: [[epochTrainingOrder]]'s interleaved global order
   * cut into fixed-size shards (shard = (ord−1) div shardSize), one row
   * per shard with its row count, token mass, and [start_ord, end_ord]
   * span. The manifest is what a 1000-GPU data loader reads to assign
   * shards to ranks; writing the documents themselves is one
   * `partitionBy("shard")` over the same frame. The shard agg is keyed
   * on the derived shard id — map-side combined, output rows =
   * corpus/shardSize.
   */
  def shardManifest(docs: DataFrame, groupCol: String = "source",
      tokenBudget: Long = 10000L, maxEpochs: Int = 4, shardSize: Long = 100L,
      salt: String = "graft"): DataFrame = {
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
    epochTrainingOrder(docs, groupCol, tokenBudget, maxEpochs, salt)
      .withColumn("shard", expr(s"CAST((ord - 1) div $shardSize AS BIGINT)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_tokens")).as("n_tokens"),
        min(col("ord")).as("start_ord"), max(col("ord")).as("end_ord"))
  }

  /**
   * Per-stratum quality pruning — the FineWeb-style percentile gate:
   * within each `groupCol` stratum, keep the top `keepPermille`/1000 of
   * documents by [[qualityScore]]'s blended heuristic (rank DESC on the
   * integer-scaled score, ties to the smaller doc_id). Pruning within
   * the stratum rather than globally is the point: a global cut empties
   * whole low-scoring domains, a per-stratum cut preserves the mixture
   * while dropping each domain's own worst tail. Returns
   * (doc_id, group, quality_scaled, rnk) for the kept rows.
   *
   * Scale shape: the score is a scan-stage expression; the per-stratum
   * rank is [[graft.ops.PrefixRank.keyedPrefix]] over the bounded
   * integer score space [0, 10000] (never `Window.partitionBy` — a
   * web-crawl stratum can be most of the corpus); keep-counts ride one
   * broadcast row per stratum. Null/token-less texts score 0 — ranked
   * last, pruned first, never an error.
   */
  def qualityPrune(docs: DataFrame, groupCol: String = "source",
      keepPermille: Long = 300L): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      s"keepPermille must be in [0, 1000], got $keepPermille")
    val scored = docs.join(
      qualityScore(docs).select(col("doc_id"),
        floor(col("quality") * 10000d + lit(0.5)).cast("long").as("qs")),
      Seq("doc_id"), "left")
      .withColumn("q_scaled", coalesce(col("qs"), lit(0L)))
    val keeps = scored.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_grp"))
      .select(col(groupCol),
        expr(s"CAST(n_grp * $keepPermille div 1000 AS BIGINT)").as("keep_cnt"))
    graft.ops.PrefixRank.keyedPrefix(scored, Seq(groupCol),
      lit(10000L) - col("q_scaled"), 10001L, col("doc_id"))
      .join(org.apache.spark.sql.functions.broadcast(keeps), groupCol)
      .filter(col("rnk") <= col("keep_cnt"))
      .select(col("doc_id"), col(groupCol),
        col("q_scaled").as("quality_scaled"), col("rnk"))
  }

  /**
   * Graded n-gram contamination against a benchmark set — the
   * finer-grained companion to [[decontaminated]]'s whole-document
   * fingerprint: a document that EMBEDS a benchmark item (quotes a test
   * question inside other prose) has a normalized fingerprint that
   * matches nothing, but its n-gram overlap fraction is high. Emits
   * (doc_id, n_grams, n_hit, contamination) for every corpus document,
   * zero rows included, so the caller picks the drop threshold.
   *
   * The comparison runs in HASH space: the native ShingleHashList
   * expression emits each doc's n-gram hashes in one tight codegen'd
   * loop (no per-gram string allocation), the benchmark reduces to a
   * distinct 8-byte hash set (broadcast — benchmarks are small by
   * definition), and the probe joins longs instead of n-word strings —
   * measured ~3× over the string-gram formulation at sf0.1. Cost: a
   * corpus gram colliding with a DIFFERENT benchmark gram counts as a
   * hit; at P ≈ 2³⁰ and a 1M-gram benchmark that is ~1e-3 per-gram
   * noise on a thresholded fraction — immaterial for the drop decision,
   * and the oracle mirrors the identical hash so the gate is exact.
   * Corpus grams never shuffle — per-doc counting is a partial agg
   * keyed on doc_id.
   */
  def contaminationOverlap(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 5): DataFrame = {
    def grams(c: Column): Column = array_distinct(shingleHashList(c, n))
    val bench = benchmark
      .select(explode(grams(col("text"))).as("gh"))
      .distinct().withColumn("hit", lit(1L))
    // explode_outer keeps docs shorter than n words (null gram row);
    // count(gh) ignores that null so they emit n_grams = 0. The
    // division is guarded, not coalesced: under ANSI mode (Spark 4's
    // default) 0/0 throws rather than nulling out.
    corpus.select(col("doc_id"),
        explode_outer(grams(col("text"))).as("gh"))
      .join(org.apache.spark.sql.functions.broadcast(bench), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(col("gh")).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") > 0,
          fround(col("n_hit").cast("double") / col("n_grams"), 4))
          .otherwise(lit(0.0))
          .as("contamination"))
  }

  /**
   * Fuzzy decontamination — the graded companion of [[decontaminated]]:
   * drop every corpus doc whose n-gram overlap fraction with the
   * benchmark ([[contaminationOverlap]]) reaches `maxOverlap`. Exact
   * fingerprinting only catches verbatim benchmark copies; this gate
   * catches paraphrased or partially-quoted leakage (the contamination
   * mode eval suites actually worry about). The drop-list — contaminated
   * docs, rare by definition — feeds a LEFT ANTI join, so AQE broadcasts
   * it when it is small and the corpus never shuffles; no pinned hint
   * (same reasoning as DedupOps.dedupedCorpus). The threshold compares
   * the ROUNDED fraction (fround 4), keeping the decision engine-exact.
   */
  def fuzzyDecontaminated(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 5, maxOverlap: Double = 0.5): DataFrame = {
    require(maxOverlap > 0.0, "maxOverlap must be positive (0 would drop everything)")
    val dropped = contaminationOverlap(corpus, benchmark, n)
      .filter(col("contamination") >= maxOverlap).select(col("doc_id"))
    corpus.join(dropped, Seq("doc_id"), "left_anti")
  }

  /**
   * Sliding-window token chunking — the training-example cut: windows of
   * `size` tokens every `stride` tokens (stride < size ⇒ overlapping
   * context, the usual pretraining shape). Start positions are
   * 0, stride, 2·stride, … while start < n_tokens; the final window
   * truncates at the document end. Pure per-row array expressions
   * exploded to one row per chunk — scan-stage, no shuffle, and the
   * chunk count per doc is ⌈n/stride⌉ so output size is linear in
   * corpus tokens.
   */
  def chunked(docs: DataFrame, width: Int = 32, stride: Int = 24): DataFrame = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    val ws = filter(words(col("text")), w => w =!= "")
    val chunk = slice(col("ws"), col("start_tok") + 1, lit(width))
    docs
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 1, lit(stride)))
          .as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        size(chunk).cast("long").as("n_tok"),
        array_join(chunk, " ").as("chunk_text"))
  }
}
