package graft.streaming

import graft.ingest.Ingest
import graft.pipeline.DatePartition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Structured Streaming restatement of the reference's ingest dataflow
 * (SURVEY.md §2.3 B1–B7): the same declarative operators the batch path
 * uses (graft.ingest.Ingest is pure column expressions), applied to a
 * `readStream` DataFrame.
 *
 * Mapping from the reference:
 *  - bounded-buffer admission (B1, `client/async.go:62-65`) →
 *    source-side admission (`maxOffsetsPerTrigger`-family options);
 *  - linger/batch-size micro-batching (B2, `client/async.go:195-230`)
 *    → the micro-batch engine + `Trigger.ProcessingTime`;
 *  - fan-out parallelism (B3) → task parallelism;
 *  - retry/backoff + partial-failure indexes (B4/B5,
 *    `client/async.go:232-279`, `server/sender/kafka.go:44-68`) →
 *    [[RetryingSink]];
 *  - graceful drain (B6, `client/async.go:282-285`) →
 *    `query.processAllAvailable(); query.stop()`;
 *  - at-least-once dedup contract (B7, README "Important Notice") →
 *    [[dedupped]] (watermark-bounded state TTL).
 *
 * At scale: every transform here is stateless except dedup/windows,
 * whose state is bounded by the watermark; nothing shuffles except the
 * stateful operators' key exchange.
 */
object EventStream {

  /**
   * The reference's tier-2 pipeline on a stream: validate (T2) →
   * enrich (T4, deterministic server timestamp for replayability) →
   * date-partition derivation (T9). Output is the append-ready frame
   * the notebook's cells 3–5 land into the partitioned table.
   */
  def ingestPipeline(stream: DataFrame, serverTimestampMs: Long): DataFrame =
    DatePartition.withDateParts(
      Ingest.enrichAt(Ingest.validate(stream), serverTimestampMs),
      "clientTimestamp")

  /**
   * B7 — streaming exact dedup by event id with watermark-bounded state:
   * duplicates arriving within `delayThreshold` of the original are
   * dropped; state for ids older than the watermark is evicted, so
   * memory is O(events per watermark window), not O(stream length).
   *
   * Uses `dropDuplicatesWithinWatermark`: plain `dropDuplicates("id")`
   * only evicts state when the event-time column is part of the dedup
   * subset, so keyed-by-id-alone state would grow O(all distinct ids)
   * over the stream's lifetime — a leak on a long-running pipeline.
   */
  def dedupped(stream: DataFrame, eventTimeCol: String,
      delayThreshold: String = "10 minutes"): DataFrame =
    stream.withWatermark(eventTimeCol, delayThreshold)
      .dropDuplicatesWithinWatermark("id")

  /**
   * A5 — the running ok/failed/dropped event counters as a streaming
   * aggregation: tumbling 1-minute event-time windows per (topic, name)
   * with late data admitted up to the watermark.
   */
  def eventCounters(stream: DataFrame, eventTimeCol: String,
      delayThreshold: String = "10 minutes"): DataFrame =
    stream.withWatermark(eventTimeCol, delayThreshold)
      .groupBy(window(col(eventTimeCol), "1 minute"),
        col("topic"), col("name"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("topic"), col("name"), col("n_events"))
}
