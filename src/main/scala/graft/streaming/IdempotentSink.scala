package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Exactly-once-per-batch landing over an at-least-once stream (SURVEY.md
 * §2.3 B7's other half). The reference's contract is at-least-once with
 * consumer-side dedup (README "Important Notice"); Structured Streaming
 * can do better at the sink: on failure recovery the engine REPLAYS the
 * same source offsets under the SAME `batchId`, so a sink that makes the
 * batch write idempotent in `batchId` yields end-to-end exactly-once
 * into the table.
 *
 * Implementation: each micro-batch lands in its own `batch=<id>`
 * subdirectory with overwrite semantics — a replayed batch REPLACES its
 * previous (possibly partial) output instead of appending duplicates.
 * Readers treat `batch` as one more partition column and prune on it
 * like any other. No maintenance job folds the per-batch directories
 * together: `Maintenance.compactPartition` takes `year/month/day`
 * partitions, and `Maintenance.compactHivePartitioned(path, "batch")`
 * rewrites each batch to one file but keeps one directory per batch.
 */
object IdempotentSink {

  /** The per-batch landing, idempotent in `batchId`: full overwrite of
    * the batch's own directory. Exposed for direct testing of the
    * replay contract. */
  def landBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Start the checkpointed stream: replays after failure re-run
    * [[landBatch]] with the same id and overwrite their own output. */
  def start(stream: DataFrame, path: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => landBatch(df, path, id))
      .start()
}
