package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted IVF index lifecycle — the step between the inline ANN
 * operators (SimilaritySearch.ivfTopK recomputes cell assignment per
 * query batch) and a production deployment, where the corpus is
 * assigned ONCE and searched many times:
 *
 *  - [[build]]: k-means centroids + per-vector cell assignment, written
 *    as parquet with the assignment table HIVE-PARTITIONED BY CELL —
 *    each inverted list is a directory, so a search touching `nprobe`
 *    cells scans only those directories (partition pruning, pinned in
 *    LlmSpec).
 *  - [[append]]: assign NEW vectors against the FROZEN centroids and
 *    append their partitions — incremental ingest without rebuilding
 *    (the standard IVF freshness trade: cell balance degrades as the
 *    distribution drifts; rebuild on a cadence).
 *  - [[search]]: probe cells come from the tiny centroid table; the
 *    probed cell ids are collected (nprobe × |queries| ints — driver
 *    coordination IS the IVF lookup) into a partition-pruning filter,
 *    then the exact-cosine top-k runs over the surviving lists only.
 *
 * At 100 TB the assignment pass is one scan-stage argmin over broadcast
 * centroids (codegen'd NearestCellExpr; the corpus never shuffles) plus
 * one partitioned write; every subsequent search reads nprobe/nCells of
 * the data. Embeddings round-trip parquet bit-exactly (float arrays),
 * so search-after-build equals the inline operator row-for-row.
 */
object IvfIndex {
  import org.apache.hadoop.fs.Path

  // Torn-swap detection: per-table version stamps + last-written
  // manifest ([[IndexLifecycle]]). A torn IVF set (centroids from one
  // rebuild, assignments from another) would silently route
  // partial-probe searches wrong; the serving paths refuse it loudly.
  private val lifecycle = new IndexLifecycle("IVF index",
    Seq("centroids", "assignments", "pq_codebooks", "pq_codes"))

  private def present(spark: SparkSession, dir: String, t: String): Boolean =
    SwapManifest.fsOf(spark, dir).exists(new Path(s"$dir/$t"))

  /** Operational report for the manifest layout ([[graft.llm.DedupIndex
    * .healthCheck]]'s contract: REPORTS where the serving paths throw):
    * manifest presence, per-table stamp agreement, and the conjunction a
    * monitoring rule alerts on. */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (hasManifest, stale) = lifecycle.staleTables(spark, dir)
    val nTables = SwapManifest.readManifest(SwapManifest.fsOf(spark, dir), dir)
      .map(_.size.toLong).getOrElse(0L)
    Seq((hasManifest, nTables, stale.mkString(","),
      hasManifest && stale.isEmpty))
      .toDF("has_manifest", "n_tables", "stale_tables", "healthy")
  }

  def centroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids")

  /** Build centroids (k-means over a deterministic hash sample) and the
    * cell-partitioned assignment table.
    *
    * Re-running build() over a directory that previously ran [[buildPq]]
    * DELETES the PQ layout (pq_codebooks/pq_codes): the stored codes are
    * partitioned under the OLD cells and routed by the OLD clustering,
    * so serving them against the new centroids would be exactly the
    * mixed-version answer the manifest exists to prevent — and the
    * manifest alone can't catch it, because build()'s manifest lists
    * only its own two tables, so the version check would pass. With
    * the delete, [[searchPq]] fails loudly ("no PQ index … run
    * buildPq()") until buildPq reruns. Crash windows stay detectable:
    * a crash before the delete leaves the overwritten centroids/
    * assignments unstamped (overwrite clears the version file), which
    * every serving path refuses. */
  def build(corpus: DataFrame, dir: String, nCells: Int = 16,
      iters: Int = 2): Unit =
    lifecycle.build(corpus.sparkSession, dir) { out =>
      writeCoarse(corpus, out, nCells, iters)
      Seq("pq_codebooks", "pq_codes").foreach(t =>
        SwapManifest.fsOf(corpus.sparkSession, dir)
          .delete(new Path(s"$dir/$t"), true))
    }

  /** Centroids + the cell-partitioned assignments, shared by [[build]]
    * and [[buildPq]]. */
  private def writeCoarse(corpus: DataFrame, out: IndexLifecycle.Out,
      nCells: Int, iters: Int): Unit = {
    out.parquet("centroids",
      SimilaritySearch.kmeansCentroids(corpus, nCells, iters))
    // assign against the WRITTEN centroids (not the in-flight plan) so
    // append() and search() see the identical values byte-for-byte
    out.write("assignments")(SimilaritySearch.assignCells(corpus,
        corpus.sparkSession.read.parquet(out.path("centroids")))
      .write.mode("overwrite").partitionBy("cell").parquet(_))
  }

  /** Assign new vectors against the frozen centroids and append —
    * IDEMPOTENTLY: vec_ids already assigned are skipped, so an
    * at-least-once caller (a replayed ingest batch) never double-indexes
    * a vector. The guard is observable, not cosmetic — a duplicated
    * vector surfaces as repeated neighbor rows in [[search]] output.
    * The unseen set is checkpointed before the write so the anti-join's
    * lazy scan can never list the directory it is appending to
    * mid-write (the same lineage-cut reasoning as
    * [[DedupIndex.commit]]). The anti-join reads ONE long column of the
    * assignments table; at billion-vector scale run [[compact]] on a
    * cadence so that read stays a few large files per cell.
    *
    * SINGLE WRITER per index: the idempotence anti-join reads the
    * pre-write snapshot, so two CONCURRENT appends carrying overlapping
    * batches would each see the other's rows as absent and both insert
    * them — duplicated vec_ids, visible as repeated neighbor rows. The
    * ingest lifecycle that owns an index must serialize its appends
    * (the same contract as [[DeconIndex.append]]); replays are safe
    * BECAUSE they are sequential.
    *
    * CONFLICTING IDS ARE UNDEFINED: a single batch carrying the same
    * vec_id with DIFFERENT embeddings keeps an arbitrary one (the
    * dropDuplicates survivor is partition-order-dependent), and an id
    * already indexed keeps its STORED embedding regardless of what the
    * new batch carries — append is insert-if-absent, not upsert. vec_id
    * is the identity of an immutable vector; a feed that re-keys
    * different embeddings under one id is a producer bug this layer
    * cannot repair, only bound (at most one row per id is ever stored).
    * To CHANGE a vector, delete-and-rebuild or use a new id. Pinned in
    * CorpusOpsSpec. */
  def append(vectors: DataFrame, dir: String): Unit =
    WriterLease.withLease(vectors.sparkSession, dir, "ivf append") {
    val spark = vectors.sparkSession
    // dropDuplicates: an at-least-once FEED can deliver the same vector
    // twice WITHIN one batch (two replayed files landing in the same
    // micro-batch) — the stored-snapshot anti-join alone would insert
    // both copies. Replay copies are identical rows, so which one
    // survives is immaterial; differing rows under one id are the
    // undefined-input case documented above.
    val unseen = vectors.dropDuplicates("vec_id").join(
      spark.read.parquet(s"$dir/assignments").select("vec_id"),
      Seq("vec_id"), "left_anti").localCheckpoint(true)
    if (!unseen.isEmpty)
      SimilaritySearch.assignCells(unseen, centroids(spark, dir))
        .write.mode("append").partitionBy("cell").parquet(s"$dir/assignments")
    }

  /** Small-file compaction for the cell-partitioned tables ([[append]]
    * lands one file set per touched cell per batch): rewrites
    * `assignments` — and `pq_codes` when the PQ layout is present — to
    * one file per cell via [[graft.pipeline.Maintenance
    * .compactHivePartitioned]]'s table-level double-rename swap. Row
    * content, and therefore every search answer, is unchanged.
    * `centroids`/`pq_codebooks` are single-write tables and never need
    * it. Run on a schedule, not in the append path. */
  def compact(spark: SparkSession, dir: String): Unit =
    lifecycle.compact(spark, dir,
        Seq("assignments", "pq_codes").filter(present(spark, dir, _)))(
      graft.pipeline.Maintenance.compactHivePartitioned(spark, _, "cell"))

  /**
   * Rebuild-from-drift: re-learn centroids from the STORED vectors and
   * atomically swap the index layout under readers — the operation the
   * [[rebalanceCheck]]/[[graft.llm.SimilaritySearch.ivfAssignmentMargins]]
   * reports exist to trigger. [[append]] assigns against frozen
   * centroids, so a drifting distribution piles new vectors into a few
   * cells until probe cost skews; rebuild re-clusters over everything
   * indexed so far, re-assigns, and (when the PQ layout is present)
   * re-partitions the code words under the new cells — the CODES are
   * untouched, they encode the vector, not its routing.
   *
   * Atomicity: every new table is fully WRITTEN to a staging directory
   * first, then the tables swap via [[IndexLifecycle.rebuild]] (stamped
   * staging, [[StagedSwap]] with phase-1 rollback, manifest last) — a
   * racing reader sees old-or-new files, never a mix of a table, and a
   * torn set fails the version check. The stored
   * vectors are checkpointed BEFORE any rename so no lazy scan can list
   * a directory mid-swap ([[append]]'s lineage-cut reasoning). The
   * tables swap sequentially — SINGLE WRITER per index, and searches
   * in flight across the swap window should be retried (the same
   * contract as [[graft.pipeline.Maintenance.compactDir]] documents).
   *
   * Search answers: at full probes (nprobe = nCells) the exact-cosine
   * top-k is invariant to the re-partitioning — pinned in
   * CorpusOpsSpec; at partial probes answers legitimately improve,
   * which is the point.
   */
  def rebuild(spark: SparkSession, dir: String, nCells: Int = 16,
      iters: Int = 2): Unit =
    lifecycle.rebuild(spark, dir) { out =>
      val stored = spark.read.parquet(s"$dir/assignments")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      require(!stored.isEmpty, s"rebuild: no vectors indexed at '$dir'")
      writeCoarse(stored, out, nCells, iters)
      // pq_codebooks is not restaged (codes encode the vector, not its
      // routing) and keeps its manifest entry; pq_codes re-partitions
      // under the new cells.
      if (present(spark, dir, "pq_codes"))
        out.write("pq_codes")(spark.read.parquet(s"$dir/pq_codes").drop("cell")
          .join(spark.read.parquet(out.path("assignments"))
            .select(col("vec_id"), col("cell")), "vec_id")
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(_))
    }

  /**
   * Cell-balance report for the rebuild-cadence decision [[append]]
   * defers: per-cell occupancy plus a skew summary. `skew` is
   * max-cell / mean-cell occupancy — 1.0 is perfectly balanced; the
   * search cost of probing a cell is proportional to its occupancy, so
   * skew IS the worst-case/average probe-cost ratio. `empty_cells`
   * counts centroids that own no vectors (wasted routing resolution —
   * a symptom of drift or a too-large nCells). Operators alert on a
   * threshold (skew > ~3 is a common rebuild trigger) rather than
   * re-clustering on a timer. One count-by-partition-column job over
   * the assignments table — reads only parquet partition metadata
   * columns, never an embedding.
   *
   * An EMPTY index (zero vectors assigned — all partitions deleted, or
   * built over nothing) reports `occ_ratio`/`skew` as NULL rather than
   * the NaN a 0/0 would produce: there is no probe cost to compare, and
   * an alerting rule on `skew > 3` must see a well-defined non-firing
   * value, not NaN (which is neither > nor ≤ anything).
   */
  def rebalanceCheck(spark: SparkSession, dir: String): DataFrame = {
    val occ = spark.read.parquet(s"$dir/assignments")
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    // centroids with zero members never appear in assignments — join the
    // centroid table so empty cells are reported, not silently absent
    val cellIds = centroids(spark, dir).select(col("cell_id").as("cell"))
    val perCell = cellIds.join(occ, Seq("cell"), "left")
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
    val stats = perCell.agg(
      max(col("n_vectors")).as("max_occ"),
      avg(col("n_vectors")).as("mean_occ"),
      sum(when(col("n_vectors") === 0L, 1L).otherwise(0L)).as("empty_cells"))
    val guarded = when(col("mean_occ") > 0, col("mean_occ"))
    perCell.crossJoin(broadcast(stats))
      .select(col("cell"), col("n_vectors"),
        TextFunctions.fround(
          col("n_vectors").cast("double") / guarded, 4)
          .as("occ_ratio"),
        TextFunctions.fround(
          col("max_occ").cast("double") / guarded, 4).as("skew"),
        col("empty_cells"))
      .orderBy(col("cell"))
  }

  /** Top-`k` exact-cosine neighbors from the persisted index, scanning
    * only the probed cell partitions. */
  def search(queries: DataFrame, dir: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    lifecycle.verify(spark, dir)
    val probes = SimilaritySearch.probeCells(queries, centroids(spark, dir), nprobe)
    val assigned = prunedRead(spark, s"$dir/assignments", probes)
      .select(col("vec_id"), col("embedding"), col("cell"))
    SimilaritySearch.searchAssigned(assigned, probes, k)
  }

  /**
   * IVF-PQ (the FAISS IVFPQ layout): alongside [[build]]'s coarse
   * routing, store each vector as its `subspaces`-byte product-quantized
   * code word, cell-partitioned, plus the sub-codebooks. [[searchPq]]
   * then never reads an embedding: probed cells are pruned at plan time
   * and scoring is `subspaces` lookup-table adds per candidate — the
   * layout that serves billion-vector corpora from a fraction of the
   * storage (8 bytes/vector vs 256 for a float 64-dim embedding).
   */
  def buildPq(corpus: DataFrame, dir: String, nCells: Int = 16,
      iters: Int = 2, dim: Int = 64, subspaces: Int = 8,
      nCodes: Int = 16): Unit =
    lifecycle.build(corpus.sparkSession, dir, "buildPq") { out =>
      writeCoarse(corpus, out, nCells, iters)
      out.parquet("pq_codebooks",
        SimilaritySearch.pqCodebooks(corpus, dim, subspaces, nCodes))
      out.write("pq_codes")(SimilaritySearch.pqPacked(corpus, dim, subspaces,
          nCodes)
        .join(corpus.sparkSession.read.parquet(out.path("assignments"))
          .select("vec_id", "cell"), "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(_))
    }

  /** Top-`k` by asymmetric distance over the persisted PQ codes of the
    * probed cells — embeddings are never read. The PQ geometry
    * (subspaces, dim) is DERIVED from the stored codebooks rather than
    * trusted from the caller: a repeated-but-wrong parameter would
    * silently score half of each code word. */
  def searchPq(queries: DataFrame, dir: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    lifecycle.verify(spark, dir)
    searchPqWithProbes(queries, dir, k,
      SimilaritySearch.probeCells(queries, centroids(spark, dir), nprobe))
  }

  /** [[searchPq]] body against an already-computed probe table, so
    * [[searchPqRefined]]'s refine stage can reuse the same probes (and
    * their driver-side pruning collect) instead of recomputing them. */
  private def searchPqWithProbes(queries: DataFrame, dir: String, k: Int,
      probes: DataFrame): DataFrame = {
    val spark = queries.sparkSession
    // A missing or empty pq_codebooks table (build() ran but buildPq()
    // didn't, or a partial write) would otherwise surface as an obscure
    // schema-inference failure or an NPE on getInt of the null aggregate
    // row — name the actual problem instead.
    def noPq(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"searchPq: no PQ index at '$dir' — the pq_codebooks table is " +
          "missing or empty; run buildPq() (build() alone only writes " +
          "the coarse IVF)", cause)
    val cb =
      try spark.read.parquet(s"$dir/pq_codebooks")
      catch { case e: org.apache.spark.sql.AnalysisException => noPq(e) }
    val geom = cb.agg(max(col("sub")), max(size(col("cvec")))).head()
    if (geom.isNullAt(0)) noPq(null)
    val subspaces = geom.getInt(0) + 1
    val dim = subspaces * geom.getInt(1)
    val dtab = SimilaritySearch.adcTables(SimilaritySearch.adcSubDists(
      queries.select(col("vec_id"), col("embedding")), cb, dim, subspaces))
    val candidates = prunedRead(spark, s"$dir/pq_codes", probes)
      .join(broadcast(probes.select(col("query_id"), col("cell")).distinct()), "cell")
    SimilaritySearch.adcRank(candidates.join(broadcast(dtab), "query_id"),
      subspaces, k)
  }

  /**
   * Two-stage IVF-PQ serving: [[searchPq]] ranks the probed cells' code
   * words by asymmetric distance, then the top-`refine` candidates per
   * query are re-scored with EXACT cosine against their stored embeddings
   * and the final top-`k` comes from the exact scores. The embedding read
   * is restricted to the SAME probed cell partitions (plan-time pruning)
   * and then semi-joined down to the `refine` candidate ids — per query,
   * only `refine` full-precision vectors are touched, everything else is
   * served from the 8-byte codes. Output schema matches [[search]].
   */
  def searchPqRefined(queries: DataFrame, dir: String, k: Int,
      nprobe: Int = 4, refine: Int = 64): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    val spark = queries.sparkSession
    lifecycle.verify(spark, dir)
    val probes = SimilaritySearch.probeCells(queries,
      centroids(spark, dir), nprobe)
    val cand = searchPqWithProbes(queries, dir, refine, probes)
      .select(col("query_id"), col("neighbor_id"))
    val emb = prunedRead(spark, s"$dir/assignments", probes)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(emb, "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.llm.TextFunctions.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cos", graft.llm.TextFunctions.fround(col("cos"), 4))
  }

  /** Read a cell-partitioned table restricted to the probed cells:
    * the probe list is tiny (nprobe ids per query — the driver-side
    * lookup every IVF serving layer performs) and the isin literals are
    * what partition pruning needs to skip unprobed directories at plan
    * time. */
  private def prunedRead(spark: SparkSession, path: String,
      probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*))
      .withColumn("cell", col("cell").cast("long"))
  }
}
