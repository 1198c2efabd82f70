package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions._

/**
 * The one ranking layer of the retrieval and nearest-neighbour
 * operators here, in [[Retrieval]], [[IvfIndex]] and [[EmbeddingOps]]:
 * each operator generates candidates its own way, then selects through
 * one of these (the candidate-generation + exact-select split of REPOSE
 * and the incremental top-k similarity framework, PAPERS.md).
 *
 *  - [[within]]: top-k within a key — one window per key, `row_number`
 *    over the caller's ordering (its last term is the tie-breaker), keep
 *    ranks in (skip, skip + k];
 *  - [[global]]: corpus-wide top-k — the sort-limit
 *    (TakeOrderedAndProject, per-partition heaps) first, then the rank
 *    window over the k survivors, with the ordering written once;
 *  - [[rerank]]: exact cosine of (query_id, neighbor_id) candidates,
 *    then the per-query top-k ([[nearest]]).
 */
private[llm] object Ranking {

  /** Cosine descending, ties toward the smaller neighbor id — every
    * nearest-neighbour operator's order. */
  val byCos: Seq[Column] = Seq(col("cos").desc, col("neighbor_id"))

  /** Rank `df` within each `key` group by `order` into column `rank`
    * (a long when `longRank`) and keep ranks in (skip, skip + k]. */
  def within(df: DataFrame, key: String, order: Seq[Column], k: Int,
      rank: String = "rank", skip: Int = 0,
      longRank: Boolean = false): DataFrame = {
    val rn = row_number().over(Window.partitionBy(col(key)).orderBy(order: _*))
    df.withColumn(rank, if (longRank) rn.cast("long") else rn)
      .filter(if (skip == 0) col(rank) <= k
        else col(rank) > skip && col(rank) <= skip + k)
  }

  /** The `k` first rows of `df` by `order`, ranked 1..k in `rank`. */
  def global(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))

  /** Per-query top-k of scored (query_id, neighbor_id, cos) rows by
    * [[byCos]], cos rounded after the cut. */
  def nearest(scored: DataFrame, k: Int): DataFrame =
    within(scored, "query_id", byCos, k)
      .withColumn("cos", fround(col("cos"), 4))

  /** (query_id, qe) and (neighbor_id, ce): the two embedding lookups a
    * re-rank joins onto its candidates. */
  def queryVectors(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  def neighborVectors(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))

  /** Exact re-rank of (query_id, neighbor_id) candidates: each lookup
    * joins on by its first column, in the order given (the LSH family
    * reads both sides from the corpus, the PQ refine stages join the
    * neighbor side first and broadcast the queries), then cosine and
    * [[nearest]]. */
  def rerank(cand: DataFrame, lookups: Seq[DataFrame], k: Int): DataFrame =
    nearest(lookups.foldLeft(cand)((c, v) => c.join(v, v.columns.head))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ce")).as("cos")), k)
}

/**
 * Similarity search over the `embeddings` table (SURVEY.md §2.6):
 * approximate nearest neighbors on an `array<float>` column.
 *
 *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
 *    The query set is broadcast (it's small by construction), so the big
 *    side streams through one scan with NO shuffle of the corpus; top-k
 *    per query is a bounded window.
 *  - [[lshCandidateTopK]]: the scale path — multi-table signed-random-
 *    hyperplane LSH restricts scoring to same-bucket candidates. Bucket
 *    ids are per-row expressions; the join is keyed on (table, bucket).
 *  - [[embeddingNearDupPairs]]: all-pairs near-dup via the same LSH
 *    buckets + exact cosine verification of candidates only.
 *
 * At 100 TB the brute-force variant is O(corpus × queries) but
 * shuffle-free and embarrassingly parallel; the LSH variant drops the
 * scored volume by the bucket collision rate at a measured recall cost
 * (recall rises steeply with the true similarity of the sought pairs —
 * near 1.0 for genuine near-duplicates at cos >= 0.9).
 *
 * SIZING RULE: candidate volume within one table is ~ n^2 / 2^nbits,
 * so `nbits` must grow with the corpus — nbits ≈ log2(n / b) for a
 * target mean bucket occupancy b (≈ 8–32). The defaults (6 bits) fit
 * the 500-row validation corpus; at 50k rows use ~12 bits, at 10^9
 * rows ~26 bits, keeping per-bucket pair work constant as n grows.
 * Recall lost to narrower buckets is recovered by adding tables
 * (union of candidates), which scales linearly, not quadratically.
 */
object SimilaritySearch {
  import Ranking.{byCos, nearest, neighborVectors, queryVectors}

  /** Pairwise cosine of every (query, corpus) combination. `queries` must
    * be small enough to broadcast — the planner gets an explicit hint. */
  private def scored(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus.as("c")
      .join(broadcast(queries.as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        cosine(col("q.embedding"), col("c.embedding")).as("cos"))

  /** Exact cosine top-k per query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    nearest(scored(corpus, queries), k)

  /**
   * Hard-negative mining for contrastive training: per query, the `k`
   * most-similar corpus vectors AFTER excluding the presumed positives —
   * both by RANK (`skip` nearest neighbors: the retrieval-positive set a
   * contrastive batch must not use as negatives) and by SCORE (rounded
   * cosine ≥ `dupCeiling`: near-duplicates however deep they rank).
   * Returns (query_id, neighbor_id, cos, rank) with rank ∈ (skip,
   * skip + k] over the ceiling-filtered candidates. The gate compares
   * the ROUNDED cosine (fround 4), keeping the keep/drop decision
   * engine-exact — q99's rounded-threshold recipe.
   *
   * Same plan shape as [[bruteForceTopK]] (broadcast queries, one
   * window keyed per query); swap the scorer for the IVF/LSH candidate
   * generators at corpus scale exactly as with the plain top-k.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      skip: Int = 1, dupCeiling: Double = 0.95): DataFrame = {
    require(skip >= 0 && k >= 1, s"need skip >= 0, k >= 1 (got $skip, $k)")
    Ranking.within(scored(corpus, queries)
      .withColumn("cos", fround(col("cos"), 4))
      .filter(col("cos") < dupCeiling), "query_id", byCos, k, skip = skip)
  }

  /** (vec_id, table, bucket) LSH assignment: `tables` independent
    * hyperplane tables of `nbits` bits each, hyperplane weights generated
    * deterministically (TextFunctions.hyperplaneBucket). */
  def lshBuckets(embeddings: DataFrame, dim: Int,
      tables: Int = 8, nbits: Int = 6): DataFrame =
    embeddings.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("table"),
          hyperplaneBucketAt(col("embedding"), dim, nbits, t * nbits).as("bucket"))): _*))
        .as("tb"))
      .select(col("vec_id"),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))

  /**
   * ANN top-k: score only candidates sharing an LSH bucket with the query
   * in at least one table, then exact-cosine rank them. Candidate pairs
   * are distinct-ed on ids BEFORE the cosine is computed, so each pair is
   * scored exactly once no matter how many tables it collides in. Same
   * output shape as [[bruteForceTopK]] so the two are directly comparable.
   */
  def lshCandidateTopK(corpus: DataFrame, queries: DataFrame, dim: Int,
      k: Int, tables: Int = 8, nbits: Int = 6): DataFrame =
    lshTopK(corpus, lshBuckets(queries, dim, tables, nbits), dim, k, tables,
      nbits)

  /** The LSH top-k body over a (vec_id, table, bucket) query-probe set:
    * corpus rows sharing a probed bucket, distinct on ids, then
    * [[Ranking.rerank]]. The query vectors come from the corpus. */
  private def lshTopK(corpus: DataFrame, qb: DataFrame, dim: Int, k: Int,
      tables: Int, nbits: Int): DataFrame = {
    val cand = lshBuckets(corpus, dim, tables, nbits).as("c")
      .join(broadcast(qb.as("q")),
        col("q.table") === col("c.table") && col("q.bucket") === col("c.bucket") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"))
      .distinct()
    Ranking.rerank(cand, Seq(queryVectors(corpus), neighborVectors(corpus)), k)
  }

  /**
   * IVF-style ANN top-k: partition the corpus into `nCells` inverted
   * lists by nearest coarse centroid, probe the `nprobe` nearest lists
   * per query, exact-cosine rank inside probed lists only.
   *
   * vs the LSH variant: cells follow the data distribution (centroid
   * Voronoi regions) instead of fixed random hyperplanes, and each
   * corpus vector lives in EXACTLY ONE list — so a probe touches a
   * bounded corpus fraction (~nprobe/nCells) and candidates need no
   * dedup. Centroids here are the deterministic `vec_id < nCells` cut,
   * keeping the operator oracle-checkable; at scale the centroid set
   * comes from k-means on a sample and the plan shape is identical
   * (broadcast centroids → per-row argmax assignment → probe-list join).
   *
   * Assignment is a SCAN-STAGE argmax: the centroid table is folded into
   * ONE row holding a cell-ascending array of (cell_id, cvec) structs,
   * broadcast, and each corpus row picks its nearest cell with a
   * higher-order `aggregate` fold over that array — the corpus is never
   * shuffled (and never replicated ×nCells) before the probe join. Ties
   * keep the earliest (= smallest) cell_id, matching a
   * `row_number() ORDER BY ccos DESC, cell_id` argmax. (Round 3's
   * crossJoin + groupBy-argmax moved every corpus row, embedding
   * included, through a shuffle just to pick the cell — at 100 TB that
   * shuffle simply disappears here.)
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWith(corpus, queries, k,
      corpus.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cvec")),
      nprobe)

  /** All centroids as ONE broadcast-ready row: array_sort on (cell_id,
    * cvec) structs orders by cell_id, making the fold tie-break
    * well-defined. */
  private def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(
      struct(col("cell_id").cast("long").as("cell_id"), col("cvec")))).as("cents"))

  /** [[ivfTopK]] with an explicit coarse-quantizer centroid table
    * (cell_id, cvec) — the k-means path ([[kmeansCentroids]]) and the
    * deterministic `vec_id < nCells` cut share this plan. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
      cents: DataFrame, nprobe: Int = 4): DataFrame =
    searchAssigned(assignCells(corpus, cents), probeCells(queries, cents, nprobe), k)

  /** (vec_id, embedding, cell): each corpus vector labeled with its
    * nearest centroid — the scan-stage codegen'd argmin over the
    * broadcast centroid array (never a corpus shuffle). This IS the
    * index build step; [[IvfIndex]] persists its output partitioned by
    * cell so searches prune to the probed inverted lists. */
  private[llm] def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroidArray(cents)))
      .select(col("vec_id"), col("embedding"),
        nearestCellIdx(col("cents"), col("embedding")).as("cell"))

  /** (query_id, qe, cell): each query paired with its `nprobe` closest
    * cells by centroid cosine (ties toward the smaller cell_id). */
  private[llm] def probeCells(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    Ranking.within(queries.crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cell_id").cast("long").as("cell_id"),
        cosine(col("embedding"), col("cvec")).as("ccos")),
      "query_id", Seq(col("ccos").desc, col("cell_id")), nprobe, rank = "prnk")
      .select(col("query_id"), col("qe"), col("cell_id").as("cell"))

  /** Exact-cosine top-k over the probed cells of an assigned corpus. */
  private[llm] def searchAssigned(assigned: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    nearest(assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos")), k)

  /**
   * IVF assignment-margin report — the multi-probe-necessity diagnostic
   * the index sizing pass reads next to [[IvfIndex]]'s rebalance check
   * (that one sees SIZE skew; this one sees BOUNDARY mass): for every
   * corpus vector, the cosine gap between its best and second-best
   * centroid in basis points (`floor(Δcos·10⁴ + 0.5)`); a vector with
   * margin below `marginBp` sits near a Voronoi boundary, where
   * single-probe search misses true neighbors assigned to the
   * runner-up cell. Per cell: population, boundary count, and both as
   * permilles — a cell with high `ambig_permille` is the cell whose
   * queries need `nprobe` raised (or the centroids re-trained).
   *
   * Shape: the top-2 selection is ONE per-row fold over the broadcast
   * centroid array — the same scan-stage shape as the assignment fold
   * itself, no shuffle before the tiny cell-keyed aggregate + 1-row
   * broadcast total. Degenerate zero-norm vectors skip NaN cosines
   * exactly as [[TextFunctions.nearestCellIdxHof]] does and land in
   * cell −1 with margin 0: visible in the report, never a crash.
   */
  def ivfAssignmentMargins(corpus: DataFrame, cents: DataFrame,
      marginBp: Long = 500L): DataFrame = {
    val top2 = aggregate(
      col("cents"),
      struct(lit(-2.0).as("b1"), lit(-1L).as("c1"), lit(-2.0).as("b2")),
      (acc, c) => {
        val cv = c.getField("cvec")
        val sc = try_divide(dotProduct(col("embedding"), cv),
          sqrt(normSq(col("embedding"))) * sqrt(normSq(cv)))
        val ok = sc.isNotNull && !isnan(sc)
        when(ok && sc > acc.getField("b1"),
          struct(sc.as("b1"), c.getField("cell_id").as("c1"),
            acc.getField("b1").as("b2")))
          .when(ok && sc > acc.getField("b2"),
            struct(acc.getField("b1").as("b1"), acc.getField("c1").as("c1"),
              sc.as("b2")))
          .otherwise(acc)
      })
    val folded = corpus.crossJoin(broadcast(centroidArray(cents)))
      .select(col("vec_id"), top2.as("t"))
      .select(col("vec_id"), col("t.c1").as("cell_id"),
        when(col("t.b1") > lit(-2.0) && col("t.b2") > lit(-2.0),
          floor((col("t.b1") - col("t.b2")) * lit(10000.0) + lit(0.5))
            .cast("long"))
          .otherwise(lit(0L)).as("margin_bp"))
    val per = folded.groupBy("cell_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("margin_bp") < marginBp, 1L).otherwise(0L))
          .as("n_ambiguous"))
    val tot = per.agg(coalesce(sum(col("n_vecs")), lit(0L)).as("total"))
    cents.select(col("cell_id").cast("long").as("cell_id"))
      .join(per, Seq("cell_id"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell_id"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("n_ambiguous"), lit(0L)).as("n_ambiguous"),
        col("total"))
      .withColumn("share_permille",
        expr("n_vecs * 1000 div greatest(total, 1)"))
      .withColumn("ambig_permille",
        expr("n_ambiguous * 1000 div greatest(n_vecs, 1)"))
      .drop("total")
  }

  /**
   * Embedding-space distribution shift between two corpora across the
   * IVF cell partition: per cell, each side's population and share
   * (truncating permille of its own total), the absolute share gap, and
   * the total variation distance `Σ|share_a − share_b| div 2` stamped on
   * every row. The domain-shift report a data-selection pass reads
   * BEFORE trusting importance weights (DSIR q147 reweights toward a
   * target — this says how far, and in WHICH semantic regions, the raw
   * pool already sits from it); near-zero TVD says selection can only
   * reshuffle noise, a huge single-cell gap says the target concentrates
   * where the pool is thin and ESS (q169) will crater.
   *
   * Shape: both sides assign cells with the scan-stage codegen argmax
   * over the broadcast centroid array (embeddings never shuffle), then
   * two cell-keyed map-side-combined counts, a broadcast totals row, and
   * the TVD fold over the |cells|-row table. Degenerate zero-norm
   * vectors assign to cell −1 (the assignment fold's NaN-skip contract)
   * and drop from the per-cell rows, so both totals count only
   * assignable vectors.
   */
  def cellDistributionShift(corpus: DataFrame, target: DataFrame,
      cents: DataFrame): DataFrame = {
    def cellCounts(df: DataFrame, as: String): DataFrame =
      assignCells(df, cents).groupBy(col("cell").as("cell_id"))
        .agg(count(lit(1)).as(as))
    val per = cents.select(col("cell_id").cast("long").as("cell_id"))
      .join(cellCounts(corpus, "n_corpus"), Seq("cell_id"), "left")
      .join(cellCounts(target, "n_target"), Seq("cell_id"), "left")
      .select(col("cell_id"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_target"), lit(0L)).as("n_target"))
    val tot = per.agg(
      coalesce(sum(col("n_corpus")), lit(0L)).as("t_c"),
      coalesce(sum(col("n_target")), lit(0L)).as("t_t"))
    val shares = per.crossJoin(broadcast(tot))
      .withColumn("share_corpus_permille",
        expr("n_corpus * 1000 div greatest(t_c, 1)"))
      .withColumn("share_target_permille",
        expr("n_target * 1000 div greatest(t_t, 1)"))
      .withColumn("shift_permille",
        abs(col("share_corpus_permille") - col("share_target_permille")))
      .drop("t_c", "t_t")
    val tvd = shares.agg(
      expr("coalesce(sum(shift_permille), 0) div 2").as("tvd_permille"))
    shares.crossJoin(broadcast(tvd))
  }

  /**
   * Embedding-column hygiene report: one row of exact counts over the
   * degenerate vector classes every ANN path here documents it skips —
   * null vectors, wrong dimensionality, non-finite elements (NaN/±Inf),
   * all-zero vectors (undefined cosine) — plus the clean remainder. The
   * classes PARTITION the table (precedence null > wrong-dim >
   * non-finite > zero-norm), so the columns reconcile to n_vecs. The
   * operational pre-flight before an index build: the ANN operators
   * tolerate these rows silently by contract (NaN-skip, cell −1), which
   * is exactly why a pipeline owner needs the COUNT surfaced somewhere
   * (10% degenerate vectors is an upstream featurizer bug, not noise).
   * One scan, one map-side-combined 1-row aggregate; zero-norm is the
   * exact every-element-is-zero test, no float fold anywhere.
   */
  def embeddingHygiene(corpus: DataFrame, dim: Int): DataFrame = {
    val e = col("embedding")
    val wrongDim = e.isNotNull && size(e) =!= dim
    val nonFinite = e.isNotNull && !wrongDim && exists(e, x =>
      isnan(x.cast("double")) || x.cast("double") === Double.PositiveInfinity ||
        x.cast("double") === Double.NegativeInfinity)
    val zeroNorm = e.isNotNull && !wrongDim && !nonFinite &&
      forall(e, x => x.cast("double") === 0.0)
    corpus.agg(
      count(lit(1)).as("n_vecs"),
      sum(when(e.isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(wrongDim, 1L).otherwise(0L)).as("n_wrong_dim"),
      sum(when(nonFinite, 1L).otherwise(0L)).as("n_nonfinite"),
      sum(when(zeroNorm, 1L).otherwise(0L)).as("n_zero_norm"),
      sum(when(e.isNotNull && !wrongDim && !nonFinite && !zeroNorm, 1L)
        .otherwise(0L)).as("n_clean"))
  }

  /** In-order squared-L2 fold over two numeric arrays: each element cast
    * to double BEFORE the subtract, (d·d) accumulated left-to-right —
    * mirrorable exactly in DuckDB list_reduce. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (s, x) => s + x)

  /** Argmin-L2 cell over a cell-ascending array<struct<..,cell_id,cvec>>:
    * strict `<` keeps the earliest (= smallest) cell_id on ties,
    * matching a `row_number() ORDER BY d, cell_id` argmin. */
  private def argminL2(cands: Column, vec: Column): Column =
    aggregate(
      cands,
      struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cell")),
      (acc, c) => {
        val d = l2sq(vec, c.getField("cvec"))
        when(d < acc.getField("d"),
          struct(d.as("d"), c.getField("cell_id").as("cell")))
          .otherwise(acc)
      }).getField("cell")

  /** The `subspaces` contiguous slices of `embedding`, exploded to one
    * struct(sub, `field`) row each — the PQ subvector split. */
  private def subvectors(dim: Int, subspaces: Int, field: String): Column = {
    val subDim = dim / subspaces
    explode(array((0 until subspaces).map(j =>
      struct(lit(j).as("sub"),
        slice(col("embedding"), j * subDim + 1, subDim).as(field))): _*))
  }

  /**
   * Product-quantization codebooks from the deterministic cut: the first
   * `k` corpus vectors, split into `subspaces` contiguous sub-vectors —
   * (sub, cell_id, cvec) rows. At scale the sub-centroids come from
   * per-subspace k-means (the [[kmeansCentroids]] recipe applied per
   * slice); the cut keeps the codebook oracle-checkable, and the
   * encode/search plan shape is identical either way.
   */
  def pqCodebooks(corpus: DataFrame, dim: Int = 64, subspaces: Int = 8,
      k: Int = 16): DataFrame = {
    // A non-divisible split would SILENTLY drop the trailing dim %
    // subspaces dimensions (integer subDim + slice/zip_with min-length
    // folds), producing quietly-wrong codes and distances downstream.
    require(dim % subspaces == 0,
      s"dim ($dim) must be a multiple of subspaces ($subspaces)")
    corpus.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long").as("cell_id"), col("embedding"))
      .select(col("cell_id"), subvectors(dim, subspaces, "cvec").as("sc"))
      .select(col("sc.sub").as("sub"), col("cell_id"), col("sc.cvec").as("cvec"))
  }

  /**
   * PQ encoding: every corpus vector compressed to `subspaces` one-byte
   * codes (nearest sub-centroid by squared L2 per slice) — 64 floats
   * become 8 codes, a 32× memory cut, the representation IVF-PQ indexes
   * store. Scan-stage like the IVF assignment: the whole codebook is ONE
   * broadcast row and each vector encodes inside its scan partition —
   * the corpus is never shuffled.
   */
  def pqEncode(corpus: DataFrame, dim: Int = 64, subspaces: Int = 8,
      k: Int = 16): DataFrame = {
    val cb = pqCodebooks(corpus, dim, subspaces, k)
      .agg(array_sort(collect_list(
        struct(col("sub"), col("cell_id"), col("cvec")))).as("cbs"))
    corpus.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("cbs"), subvectors(dim, subspaces, "sv").as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"),
        argminL2(filter(col("cbs"), c => c.getField("sub") === col("s.sub")),
          col("s.sv")).as("code"))
  }

  /**
   * Asymmetric-distance (ADC) top-k over PQ codes: each query builds a
   * tiny (subspaces × codes) squared-L2 lookup table against the
   * codebook, and every corpus vector's approximate distance is the
   * IN-ORDER sum of 8 table lookups addressed by its codes — the scoring
   * pass never touches an original embedding (8 bytes read per vector
   * instead of 256). The distance tables broadcast (queries × subspaces
   * × codes doubles); only the 8-long code rows flow. At scale this
   * composes with the IVF list restriction (q54/q71) — here the full
   * code table is scanned to keep the oracle linear.
   */
  def adcTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int = 64,
      subspaces: Int = 8, nCodes: Int = 16): DataFrame = {
    val cb = pqCodebooks(corpus, dim, subspaces, nCodes)
    // nested [sub][cell] lookup arrays, one row per query — both levels
    // rebuilt deterministically via array_sort on (key, value) structs
    val dtab = adcTables(adcSubDists(queries, cb, dim, subspaces))
    val packed = pqPacked(corpus, dim, subspaces, nCodes)
    adcRank(packed.crossJoin(broadcast(dtab)), subspaces, k)
  }

  /**
   * Two-stage PQ serving (the standard FAISS refine shape): ADC ranks the
   * whole corpus from code words alone, the top-`refine` candidates per
   * query are re-scored with EXACT cosine against their real embeddings,
   * and the final top-`k` comes from the exact scores. Only `refine`
   * embeddings per query are ever read — the full-precision column stays
   * out of the scan for the 99%+ of the corpus ADC already rejected —
   * which is why recall approaches exact search while the I/O stays at
   * PQ-code scale. Output schema matches [[bruteForceTopK]].
   */
  def adcRefinedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      refine: Int = 64, dim: Int = 64, subspaces: Int = 8,
      nCodes: Int = 16): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    val cand = adcTopK(corpus, queries, refine, dim, subspaces, nCodes)
      .select(col("query_id"), col("neighbor_id"))
    Ranking.rerank(cand,
      Seq(neighborVectors(corpus), broadcast(queryVectors(queries))), k)
  }

  /** (vec_id, codes): the per-vector PQ code word as one sub-ordered
    * array — the 8-byte representation ADC scoring reads instead of the
    * embedding. */
  private[llm] def pqPacked(corpus: DataFrame, dim: Int, subspaces: Int,
      nCodes: Int): DataFrame =
    pqEncode(corpus, dim, subspaces, nCodes)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Per-query nested [sub][cell] distance lookup arrays from the
    * (query_id, sub, cell_id, dd) sub-distances. */
  private[llm] def adcTables(dcell: DataFrame): DataFrame = {
    val perSub = dcell.groupBy("query_id", "sub")
      .agg(transform(array_sort(collect_list(struct(col("cell_id"), col("dd")))),
        s => s.getField("dd")).as("ds"))
    perSub.groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("ds")))),
        s => s.getField("ds")).as("dts"))
  }

  /** Per-query sub-distances of `queries` against codebooks `cb`. */
  private[llm] def adcSubDists(queries: DataFrame, cb: DataFrame, dim: Int,
      subspaces: Int): DataFrame = {
    queries.select(col("vec_id").as("query_id"),
      subvectors(dim, subspaces, "sv").as("s"))
      .select(col("query_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
      .join(broadcast(cb), "sub")
      .select(col("query_id"), col("sub"), col("cell_id"),
        l2sq(col("sv"), col("cvec")).as("dd"))
  }

  /** ADC-sum + per-query top-k over rows carrying (query_id, vec_id,
    * codes, dts). */
  private[llm] def adcRank(rows: DataFrame, subspaces: Int, k: Int): DataFrame =
    Ranking.within(rows
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(0), lit(subspaces - 1)), lit(0.0),
          (s, j) => s + element_at(
            element_at(col("dts"), (j + 1).cast("int")),
            (element_at(col("codes"), (j + 1).cast("int")) + 1).cast("int")))
          .as("adc")),
      "query_id", Seq(col("adc"), col("neighbor_id")), k)
      .withColumn("adc", fround(col("adc"), 4))

  /**
   * Multi-probe LSH ANN top-k: each query probes its own bucket PLUS the
   * `nbits` single-bit-flip neighbor buckets in every table — the
   * standard recall lever that scales with the QUERY side (queries ×
   * (nbits+1) probe rows) instead of duplicating the corpus into more
   * tables (corpus × tables rows). Candidate sets are supersets of
   * [[lshCandidateTopK]]'s, so per-query result quality can only
   * improve; exact-cosine ranking is unchanged.
   */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, dim: Int,
      k: Int, tables: Int = 8, nbits: Int = 6): DataFrame = {
    val qb = lshBuckets(queries, dim, tables, nbits)
    lshTopK(corpus, qb.unionAll(qb
      .select(col("vec_id"), col("table"),
        explode(array((0 until nbits).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))),
      dim, k, tables, nbits)
  }

  /**
   * Coarse-quantizer centroids by k-means: `iters` Lloyd rounds over a
   * deterministic hash sample (`vec_id % sampleMod == 0`), initialized
   * from the `vec_id < nCells` cut. Assignment reuses the broadcast
   * argmax fold the IVF search runs; the update is an integer-scaled
   * per-dimension mean — each coordinate is `floor(x·10^6 + 0.5)` summed
   * as BIGINT and divided exactly twice — so the double centroids are
   * bit-reproducible regardless of aggregation order (the oracle
   * determinism contract applied to k-means). Cells that lose all sample
   * members keep their previous centroid.
   *
   * Scale shape: the per-iteration shuffle moves sample×dim scaled longs
   * (never the corpus); centroid tables stay nCells rows throughout. The
   * output feeds [[ivfTopKWith]], whose corpus assignment remains a
   * shuffle-free scan-stage fold.
   */
  def kmeansCentroids(corpus: DataFrame, nCells: Int = 16, iters: Int = 2,
      sampleMod: Long = 3L): DataFrame = {
    val Scale = 1000000.0
    val sample = corpus.filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
      .select(col("vec_id"), col("embedding"))
    var cents = corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("long").as("cell_id"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
    for (_ <- 0 until iters) {
      val dims = assignCells(sample, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("v").cast("double") * Scale + 0.5)).as("s"),
          count(lit(1)).as("c"))
      val means = dims.groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / col("c").cast("double") / Scale).as("cv")))),
          s => s.getField("cv")).as("mvec"))
      cents = cents.as("o")
        .join(means.as("n"), col("o.cell_id") === col("n.cell"), "left")
        .select(col("o.cell_id").as("cell_id"),
          coalesce(col("n.mvec"), col("o.cvec")).as("cvec"))
    }
    cents
  }

  /**
   * SemDeDup-shaped semantic duplicate clusters: connected components
   * over the embedding near-dup pair graph — [[embeddingNearDupPairs]]
   * feeding DedupOps.duplicateClusters — closing the pairs → clusters →
   * representative loop in embedding space exactly as q66 does for text.
   * Keep rows where vec_id == cluster_rep, drop the rest.
   */
  def semanticDupClusters(embeddings: DataFrame, dim: Int,
      threshold: Double = 0.4, tables: Int = 8, nbits: Int = 6,
      maxIter: Int = 20): DataFrame =
    DedupOps.duplicateClusters(
      embeddingNearDupPairs(embeddings, dim, threshold, tables, nbits),
      maxIter)
      .select(col("doc_id").as("vec_id"), col("cluster_rep"))

  /**
   * Embedding near-dup pairs: LSH candidates (any shared bucket, distinct
   * on ids first), verified with exact cosine >= `threshold` — the exact
   * scoring touches candidate pairs only, never the n² cross product.
   */
  def embeddingNearDupPairs(embeddings: DataFrame, dim: Int,
      threshold: Double = 0.4, tables: Int = 8, nbits: Int = 6): DataFrame = {
    DedupOps.candidatePairs(lshBuckets(embeddings, dim, tables, nbits),
        Seq("table", "bucket"), id = "vec_id")
      .join(embeddings.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(embeddings.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
      .withColumn("cos", fround(col("cos"), 4))
  }
}
