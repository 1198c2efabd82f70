package graft.llm

import graft.functions.{HyperplaneBucketExpr, MinHashSigExpr, NearestCellExpr, PolyHashExpr, ShingleHashList, SimHashExpr, VecDotExpr}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
import org.apache.spark.sql.functions._

/**
 * Column-level primitives for the LLM-training-data operators (SURVEY.md
 * §2.6): deterministic integer hashing, shingling, MinHash signatures,
 * SimHash, and in-order float folds for embedding math.
 *
 * Everything here is a pure Catalyst expression tree over higher-order
 * array functions — per-row compute with NO shuffle, so at 100 TB these
 * run embarrassingly parallel inside the parquet scan stage and Catalyst
 * fuses them into whole-stage codegen.
 *
 * Determinism contract: every hash is explicit mod-prime integer
 * arithmetic (no engine-specific hash functions), and every floating sum
 * is an in-order left fold over doubles — so a DuckDB oracle can compute
 * the bit-identical value with `list_reduce`/`list_transform` and the
 * driver's hash-compare passes.
 */
object TextFunctions {

  /** Modulus for all polynomial hashing: the common 1e9+7 prime. Keeps
    * intermediate products < 2^62, safe in int64 on both engines. */
  val P = 1000000007L

  /** Whitespace tokens. Single-space semantics match DuckDB
    * `string_split(text, ' ')` (both keep empty tokens on repeats). */
  def words(text: Column): Column = split(text, " ")

  /**
   * ASCII contract predicate: true iff the string's UTF-8 byte length
   * equals its character count (every char single-byte ⇒ pure ASCII).
   *
   * The hashing surface folds UTF-16 code units (LlmExprs.hashChars)
   * while DuckDB oracles fold codepoints (`unicode()`) — identical on
   * ASCII, divergent on non-BMP text. Pipelines hashing text that might
   * not be ASCII should gate on this predicate in their validation step
   * (or normalize first) so a non-ASCII corpus fails loudly at the
   * boundary instead of silently mismatching fingerprints across
   * engines. The fixture corpus is asserted ASCII in LlmSpec.
   */
  def isAscii(text: Column): Column = octet_length(text) === length(text)

  /**
   * Unicode-aware normalization — the multilingual on-ramp to the
   * tokenize/fingerprint surface. The ASCII normalizer
   * ([[TextAnalysis.normalized]]'s `[^a-z0-9 ]` strip) maps a Russian or
   * CJK document to the EMPTY string — every such doc would fingerprint
   * identically and "dedup" into one cluster. This variant case-folds
   * and keeps any Unicode letter/number:
   *
   *   lower → drop [^\p{L}\p{N}\s] → collapse \s+ to one space → trim
   *
   * Scan-stage regexp chain (codegen'd), like the ASCII form.
   *
   * Cross-engine contract: on ASCII text the replay is engine-portable
   * (both Java regex and DuckDB's RE2 agree on these classes, and the
   * oracle checks exactly that corpus). On non-ASCII text the NORMALIZED
   * string is engine-portable but the downstream [[polyHash]] folds
   * UTF-16 code units while a DuckDB replay folds codepoints — identical
   * through the BMP, divergent on supplementary planes — so multilingual
   * fingerprints are deterministic WITHIN the engine (the dedup use
   * case; spec-pinned on non-ASCII fixtures) while hash-parity oracles
   * stay on the ASCII corpus ([[isAscii]]'s documented boundary).
   */
  def normalizeUnicode(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " "))

  /** Whitespace tokens of the unicode-normalized text — non-empty by
    * construction except for the all-symbol document (one empty token). */
  def unicodeWords(text: Column): Column =
    split(normalizeUnicode(text), " ")

  /**
   * Deterministic cross-engine rounding: explicit `floor(x·10^dp + 0.5) /
   * 10^dp`. Engine `round()` is NOT portable at half boundaries — Spark
   * rounds the decimal expansion HALF_UP while DuckDB rounds the scaled
   * double half-to-even, so a computed ratio whose scaled value lands
   * exactly on a representable .5 diverges by one ulp of the last digit
   * (bit q37's quality score at sf0.1: 0.5982 vs 0.5983). The floor form
   * is three IEEE ops evaluated identically on both engines; negatives
   * round half toward +inf — on both engines alike.
   */
  def fround(c: Column, dp: Int): Column = {
    val s = math.pow(10, dp).round.toDouble
    floor(c * s + lit(0.5)) / lit(s)
  }

  /**
   * Polynomial rolling hash of a string: fold h = (h*31 + code(c)) mod P
   * over its characters. Native expression (graft.functions.PolyHashExpr);
   * [[polyHashHof]] is the reference higher-order-function formulation the
   * specs cross-check it against.
   */
  def polyHash(s: Column): Column = ofExpr(PolyHashExpr(exprOf(s)))

  /** Modulus-parameterized [[polyHash]] (LlmExprs.P48 for wide keys). */
  def polyHashMod(s: Column, mod: Long): Column =
    ofExpr(PolyHashExpr(exprOf(s), mod))

  /** DEFLATE-compressed size of a string's UTF-8 bytes (native
    * DeflateLenExpr; no cross-engine oracle exists for zlib, so its
    * consumers are spec-checked). */
  def deflateLen(s: Column): Column =
    ofExpr(graft.functions.DeflateLenExpr(exprOf(s)))

  /** HOF reference implementation of [[polyHash]]. Spark's `split(s, "")`
    * appends a trailing "" (Java regex split with limit -1), which
    * DuckDB's char split does not — the filter drops it so both engines
    * fold the same sequence. */
  def polyHashHof(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(0L),
      (h, c) => (h * 31L + ascii(c)) % P)

  /** n-word shingles of a text column, as an array of strings; empty when
    * the document has fewer than n words (guard: Spark `sequence(0, neg)`
    * would count DOWN, unlike DuckDB `range`). */
  def shingles(text: Column, n: Int = 3): Column = {
    val ws = words(text)
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - lit(n)), i =>
        concat_ws(" ", (1 to n).map(k => element_at(ws, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** All n-word shingle hashes in document order, with multiplicity
    * (native ShingleHashList expression) — SimHash's feature stream.
    * `mod` widens the hash range (LlmExprs.P48) for wide SimHash. */
  def shingleHashList(text: Column, n: Int = 3, mod: Long = P): Column =
    ofExpr(ShingleHashList(exprOf(text), n, mod))

  /** Distinct polynomial hashes of the n-word shingle set — the document's
    * set representation for Jaccard/MinHash. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    array_distinct(shingleHashList(text, n))

  /** HOF reference implementation of [[shingleHashes]]. */
  def shingleHashesHof(text: Column, n: Int = 3): Column =
    array_distinct(transform(shingles(text, n), sh => polyHashHof(sh)))

  /**
   * MinHash signature: for permutation p in [0, numPerms),
   * sig[p] = min over shingle hashes h of ((1000003*p + 7919)*h +
   * 104729*p + 12345) mod P — the standard (a_p*h + b_p) mod P family
   * with deterministically generated coefficients. One pass per row,
   * native expression.
   */
  def minhashSig(hashes: Column, numPerms: Int): Column =
    ofExpr(MinHashSigExpr(exprOf(hashes), numPerms))

  /** HOF reference implementation of [[minhashSig]]. */
  def minhashSigHof(hashes: Column, numPerms: Int): Column =
    transform(sequence(lit(0), lit(numPerms - 1)), p =>
      array_min(transform(hashes, h =>
        ((lit(1000003L) * p + lit(7919L)) * h + lit(104729L) * p + lit(12345L)) % P)))

  /** Band key for LSH: polynomial combination of `rows` consecutive
    * signature values starting at index `start` (0-based). */
  def bandKey(sig: Column, start: Int, rows: Int): Column =
    (0 until rows).foldLeft(lit(0L): Column)((acc, k) =>
      (acc * 1000003L + element_at(sig, lit(start + k + 1))) % P)

  /** Native SimHash over an array<long> feature-hash column; `bits`
    * widens the fingerprint (feature hashes must populate those bits —
    * pair with `shingleHashList(..., mod = LlmExprs.P48)`). */
  def simhashOfHashes(featureHashes: Column, bits: Int = 32): Column =
    ofExpr(SimHashExpr(exprOf(featureHashes), bits))

  /** Hamming distance between two small non-negative longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------ embeddings

  /** In-order left fold dot product of two float-array columns, computed
    * in double (each element cast BEFORE multiply, so DuckDB's
    * CAST(x AS DOUBLE)*CAST(y AS DOUBLE) fold is bit-identical). Native
    * expression; [[dotProductHof]] is the reference formulation. */
  def dotProduct(a: Column, b: Column): Column =
    ofExpr(VecDotExpr(exprOf(a), exprOf(b)))

  /** HOF reference implementation of [[dotProduct]]. */
  def dotProductHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (s, x) => s + x)

  /** In-order fold squared L2 norm (double). */
  def normSq(a: Column): Column = dotProduct(a, a)

  /** Cosine similarity via deterministic in-order folds. */
  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Argmax-cosine cell id of `vec` over a cell-ascending
    * array<struct<cell_id, cvec>> column (ties → smallest cell_id) —
    * the IVF assignment step as ONE codegen'd loop. Native expression;
    * [[nearestCellIdxHof]] is the reference formulation. */
  def nearestCellIdx(cents: Column, vec: Column): Column =
    ofExpr(NearestCellExpr(exprOf(vec), exprOf(cents)))

  /** HOF reference implementation of [[nearestCellIdx]]: fold with
    * strict `>` so the earliest (= smallest, the array being sorted)
    * cell_id wins ties — identical to a
    * `row_number() ORDER BY ccos DESC, cell_id` argmax. NaN cosines
    * (zero-norm vector or centroid) are skipped EXPLICITLY: Spark SQL's
    * `>` orders NaN above everything while the native expression's Java
    * `>` is false for NaN — without the guard the two formulations pick
    * different cells on degenerate vectors (a doc with a zero-norm
    * embedding keeps cell -1 in both, never a NaN cell). `try_divide`
    * rather than [[cosine]]'s plain `/`: under ANSI mode (Spark 4
    * default) a zero denominator THROWS in the interpreted path instead
    * of producing NaN — try_divide yields NULL there and the identical
    * IEEE quotient everywhere else. */
  def nearestCellIdxHof(cents: Column, vec: Column): Column =
    aggregate(
      cents,
      struct(lit(-2.0).as("ccos"), lit(-1L).as("cell")),
      (acc, c) => {
        val cv = c.getField("cvec")
        val sc = try_divide(dotProduct(vec, cv),
          sqrt(normSq(vec)) * sqrt(normSq(cv)))
        when(sc.isNotNull && !isnan(sc) && (sc > acc.getField("ccos")),
          struct(sc.as("ccos"), c.getField("cell_id").as("cell")))
          .otherwise(acc)
      }).getField("cell")

  /**
   * Signed random-hyperplane LSH bucket over `dim`-dimensional float
   * embeddings: `nbits` hyperplanes whose weights come from the
   * murmur-style integer mix LlmExprs.hyperplaneWeight (an affine
   * generator makes hyperplanes near-parallel and collapses bucket
   * occupancy — see that scaladoc); bit j = [dot(w_j, x) > 0].
   * `bitOffset` selects an independent hyperplane family per LSH table.
   * Per-row compute only; the bucket id is the shuffle key for ANN.
   */
  def hyperplaneBucketAt(vec: Column, dim: Int, nbits: Int, bitOffset: Int): Column =
    ofExpr(HyperplaneBucketExpr(exprOf(vec), nbits, bitOffset))

  /** HOF reference implementation of [[hyperplaneBucketAt]] — the same
    * murmur-style weight mix as LlmExprs.hyperplaneWeight, as column
    * arithmetic (shifts are literal so the DSL's shiftright applies). */
  def hyperplaneBucketAtHof(vec: Column, dim: Int, nbits: Int, bitOffset: Int): Column = {
    def weight(j: Column, i: Column): Column = {
      val s = (j + lit(bitOffset)) * lit(4096L) + i
      val h1 = (s * lit(2654435761L)) % lit(4294967296L)
      val h2 = h1.bitwiseXOR(shiftright(h1, 16))
      val h3 = h2 % lit(2147483648L)
      val h4 = (h3 * lit(2246822519L)) % lit(4294967296L)
      val h5 = h4.bitwiseXOR(shiftright(h4, 13))
      (h5 % lit(2000003L)) - lit(1000001L)
    }
    val bits = transform(sequence(lit(0), lit(nbits - 1)), j => {
      val dot = aggregate(
        sequence(lit(0), lit(dim - 1)),
        lit(0.0),
        (s, i) => s +
          (weight(j, i).cast("double") * element_at(vec, i + 1).cast("double")))
      when(dot > 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (s, x) => s + x)
  }

  /** Single-table convenience overload (bit offset 0). */
  def hyperplaneBucket(vec: Column, dim: Int, nbits: Int): Column =
    hyperplaneBucketAt(vec, dim, nbits, 0)
}
