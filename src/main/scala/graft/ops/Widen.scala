package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Scale-adaptive scan widening for CPU-dense per-row pipelines
 * (optimization rounds 20/21, guide §2.2/§2.5 "make partitioning
 * scale-adaptive rather than a constant").
 *
 * The driver's parquet tables are single files with ONE row group, so a
 * scan produces ONE input partition regardless of `local[N]` — and every
 * scan-rooted narrow chain (tokenize → shingle → winnow → regex gates,
 * the dominant compute of the text operators) runs single-threaded while
 * 31 cores idle. Measured on q195_span_extents: 3.4 s narrow → 1.6 s
 * after a round-robin widen.
 *
 * Round-21 fix (the r20 verdict's #1): the r20 form always widened to
 * `defaultParallelism` regardless of input size — a 65 KB frame became a
 * shuffle plus 32 tasks of ~150 rows, taxing every cheap query +0.1–0.3 s
 * (q36 0.08→0.20 s, 138/239 queries >10% slower). The target is now
 * SIZE-AWARE: `clamp(ceil(inputBytes / ChunkBytes), 1, defaultParallelism)`
 * with `inputBytes` read from the optimized logical plan's statistics
 * (file-size based on scan lineage — no action, no job). `ChunkBytes`
 * is 64 KB of on-disk zstd parquet per partition — these pipelines run
 * ~1 ms/doc of per-row compute over ~120 B/doc compressed, so 64 KB ≈
 * 500 docs ≈ 0.5 s of work per task, comfortably above the per-task
 * scheduling floor (~2–5 ms).
 *
 * At real scale the clamp saturates: a 100 TB table estimates far above
 * `defaultParallelism × ChunkBytes`, so the target is exactly the r20
 * `defaultParallelism` — and the partition-count guard below then makes
 * the whole call a provable no-op (a 100 TB scan is tens of thousands of
 * splits already). A `target <= 1` result (frames of at most one chunk)
 * skips the shuffle outright — the round-21 fix for the widen tax on
 * tiny frames and on the sf0.001/sf0.01 correctness corpora.
 *
 * Contract: call it on RAW-SCAN lineage only (a `Tables.x(...)` frame,
 * optionally filtered/projected). Reading `rdd.getNumPartitions` on a
 * frame with pending shuffles would force AQE to execute those stages
 * just to answer the question — scan-only lineage has no stages, so the
 * probe is free.
 *
 * Determinism: round-robin placement never changes row CONTENT, and
 * every cross-row reduction in this repo is order-free by the Det
 * contract (integer-scaled sums, min/max, hash sets); per-row float
 * folds are intra-row. The oracle gate re-verifies every touched query.
 */
object Widen {
  /** On-disk bytes of input per widened partition. */
  val ChunkBytes: Long = 64L * 1024

  def scan(df: DataFrame): DataFrame = {
    val maxTarget = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes + ChunkBytes - 1) / ChunkBytes // BigInt: no overflow at any size
    val target =
      if (want >= maxTarget) maxTarget
      else math.max(1, want.toInt)
    if (target <= 1) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
