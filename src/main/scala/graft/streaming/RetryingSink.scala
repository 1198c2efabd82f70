package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.util.LongAccumulator

/**
 * B4/B5 restated (SURVEY.md §2.3): the reference's retry-with-backoff +
 * partial-failure-index contract as a `foreachBatch` sink.
 *
 * Reference behavior reproduced:
 *  - the producer reports WHICH rows failed (failure indexes,
 *    `server/sender/kafka.go:50-67`, `server/app/server.go:63`);
 *  - the client retries ONLY the failed subset after an exponential
 *    backoff `2^retry * retryInterval` (`client/async.go:241-262`);
 *  - after `maxRetries` the remainder is dropped and counted
 *    (`client/async.go:243-249`, metric `dropped`);
 *  - unlike the reference — which appends to its shared failure-index
 *    slice from concurrent goroutines without a mutex
 *    (`server/sender/kafka.go:61`, a data race) — each partition here
 *    owns its local batch, so index tracking is race-free by
 *    construction.
 *
 * Scale design: the retry loop runs PER PARTITION inside
 * `foreachPartition` — no driver-side collect, no shuffle; state is
 * O(partition batch). Metrics are Spark accumulators, the cluster-safe
 * analog of the reference's Prometheus counters (A5).
 */
object RetryingSink {

  /** Per-attempt producer: given the attempt number and the rows, return
    * the indexes (into `rows`) that FAILED — the reference's
    * `FailureIndexes` contract. Must be serializable. */
  type Producer = (Int, Seq[Row]) => Seq[Int]

  /** Sink metrics — the reference's ok/failed/dropped counters. */
  final case class Metrics(sent: LongAccumulator, retried: LongAccumulator,
      dropped: LongAccumulator)

  def newMetrics(spark: SparkSession): Metrics = Metrics(
    spark.sparkContext.longAccumulator("graft.sink.sent"),
    spark.sparkContext.longAccumulator("graft.sink.retried"),
    spark.sparkContext.longAccumulator("graft.sink.dropped"))

  /** Deterministic per-(partition, attempt) backoff jitter in
    * [0, jitterMs): a murmur-style integer mix, NOT a shared RNG — the
    * point of jitter is decorrelating the retry herd ACROSS partitions
    * (1000 executors all sleeping exactly 2^k·interval re-spike the
    * broker in lockstep), and a pure function of (partition, attempt)
    * achieves that while keeping runs reproducible and testable. */
  def jitterOf(partitionId: Int, attempt: Int,
      jitterMs: Long): Long =
    if (jitterMs <= 0) 0L
    else {
      var h = partitionId.toLong * 0x9E3779B97F4A7C15L + attempt
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      java.lang.Math.floorMod(h, jitterMs)
    }

  /** Capped, jittered backoff delay — SATURATING arithmetic throughout:
    * `(1L << (attempt-1)) * interval` overflows Long past attempt ~55,
    * and a negative sleep would throw inside foreachPartition, failing
    * the task, replaying already-acked chunks and corrupting the
    * counters. The cap is the value the overflow saturates to. */
  def backoffMs(attempt: Int, retryIntervalMs: Long, maxBackoffMs: Long,
      jitter: Long): Long = {
    val pow =
      if (attempt - 1 >= 62) Long.MaxValue else 1L << (attempt - 1)
    val raw =
      if (retryIntervalMs <= 0) 0L
      else if (pow > Long.MaxValue / retryIntervalMs) Long.MaxValue
      else pow * retryIntervalMs
    val capped = math.min(raw, maxBackoffMs)
    if (capped > Long.MaxValue - jitter) Long.MaxValue else capped + jitter
  }

  /**
   * Build the `foreachBatch` function. `sleeper` is injectable so tests
   * don't wall-clock the exponential backoff. The partition iterator is
   * consumed in bounded `chunkSize` groups (the reference's producer
   * batch, client/async.go linger buffer) so sink memory stays flat no
   * matter how large a partition grows at 100 TB — only the current
   * chunk and its retry subset are ever resident.
   *
   * `maxBackoffMs` caps the exponential curve (the reference's raw
   * `2^retry` grows unbounded with maxRetries — a capped curve is what a
   * production sender actually runs); `jitterMs` adds the deterministic
   * per-partition spread of [[jitterOf]] on top. Defaults preserve the
   * reference's exact uncapped, unjittered curve.
   *
   * Bad settings fail here, when the sink is built, not inside a task:
   * a negative `maxRetries` would skip the producer and count every row
   * as dropped, a negative `maxBackoffMs` would make the first retry's
   * sleep throw, and a `chunkSize` below 1 would fail every task.
   */
  def foreachBatchFn(
      producer: Producer,
      metrics: Metrics,
      maxRetries: Int = 3,
      retryIntervalMs: Long = 1000L,
      sleeper: Long => Unit = Thread.sleep,
      chunkSize: Int = 10000,
      maxBackoffMs: Long = Long.MaxValue,
      jitterMs: Long = 0L): (DataFrame, Long) => Unit = {
    require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(maxBackoffMs >= 0, s"maxBackoffMs must be >= 0, got $maxBackoffMs")
    (batch: DataFrame, _: Long) =>
      batch.foreachPartition { it: Iterator[Row] =>
        val pid = Option(org.apache.spark.TaskContext.get())
          .map(_.partitionId()).getOrElse(0)
        it.grouped(chunkSize).foreach { chunk =>
          var pending: Seq[Row] = chunk
          var attempt = 0
          while (pending.nonEmpty && attempt <= maxRetries) {
            if (attempt > 0) {
              // 2^(attempt-1) * interval — the reference's backoff curve
              // (client/async.go:255-262, retry counter starts at 0) —
              // saturating-capped, plus the per-partition jitter.
              sleeper(backoffMs(attempt, retryIntervalMs, maxBackoffMs,
                jitterOf(pid, attempt, jitterMs)))
              metrics.retried.add(pending.size)
            }
            val failed = producer(attempt, pending).toSet
            metrics.sent.add(pending.size - failed.size)
            // Rebuild the batch from the failure indexes — the subset
            // retry of client/async.go:264-271.
            pending = pending.zipWithIndex.collect {
              case (r, i) if failed.contains(i) => r
            }
            attempt += 1
          }
          if (pending.nonEmpty) metrics.dropped.add(pending.size)
        }
      }
  }
}
