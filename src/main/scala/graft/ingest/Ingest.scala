package graft.ingest

import graft.functions.AvroCodec
import graft.model.EventSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Ingest-edge operators (SURVEY.md §2.2, T1–T7). Each is a pure
 * `DataFrame => DataFrame` built from codegen'd column expressions, so the
 * same operator runs unchanged in batch and Structured Streaming, and
 * Catalyst is free to push/fuse it. No driver-side logic anywhere.
 */
object Ingest {

  // ---------------------------------------------------------------- T1
  /**
   * Event construction: stamp a UUIDv4 id and the current epoch-millis
   * client timestamp, as the reference client does when building an event
   * (`client/client.go:231-240`). Nondeterministic by design — excluded
   * from hash-checked oracles; tested by shape.
   */
  def construct(df: DataFrame, name: String, topic: String): DataFrame =
    df.withColumn("id", expr("uuid()"))
      .withColumn("name", lit(name))
      .withColumn("topic", lit(topic))
      .withColumn("clientTimestamp", unix_millis(current_timestamp()))

  // ---------------------------------------------------------------- T2
  /**
   * Validation predicate, exactly the reference server's precondition
   * (`server/sender/kafka.go:89-94`): id, topic, name and timestamp must
   * all be set, otherwise the event is rejected.
   */
  val isValid: Column =
    col("id").isNotNull && col("id") =!= "" &&
    col("topic").isNotNull && col("topic") =!= "" &&
    col("name").isNotNull && col("name") =!= "" &&
    col("clientTimestamp").isNotNull && col("clientTimestamp") =!= 0L

  /** Valid rows (pass the T2 precondition). */
  def validate(df: DataFrame): DataFrame = df.filter(isValid)

  /** Rejected rows — the anti-filter. Preserves the reference's error
    * surface (each missing field is an observable rejection). */
  def rejects(df: DataFrame): DataFrame = df.filter(!isValid)

  // ---------------------------------------------------------------- T3
  /**
   * Size-limit predicate (`server/sender/kafka.go:76-82`): drop events whose
   * serialized Avro payload reaches `maxBytes` (default 1 MB,
   * `server/app/app.go:94`). Measured on the actual Avro bytes, as the
   * reference measures the serialized datum.
   */
  def sizeLimit(df: DataFrame, maxBytes: Int = EventSchema.defaultMaxMessageBytes): DataFrame =
    df.filter(octet_length(avroBytes) < lit(maxBytes))

  // ---------------------------------------------------------------- T4
  /**
   * Enrichment: project the stored envelope and stamp `serverTimestamp`
   * with the server-side epoch-millis now (`server/sender/kafka.go:102-109`).
   * The `topic` routing column rides along so the enriched frame feeds
   * [[withKafkaTopic]] / `Kafka.toKafkaFrame`; the Avro datum
   * ([[avroBytes]]) reads only the envelope fields.
   */
  def enrich(df: DataFrame): DataFrame =
    envelope(df).withColumn("serverTimestamp", unix_millis(current_timestamp()))

  /** Deterministic enrich variant for tests/oracles: serverTimestamp is a
    * supplied constant instead of now(). */
  def enrichAt(df: DataFrame, serverTimestampMs: Long): DataFrame =
    envelope(df).withColumn("serverTimestamp", lit(serverTimestampMs))

  private def envelope(df: DataFrame): DataFrame =
    df.select(col("id"), col("name"), col("topic"), col("props"),
      col("clientTimestamp"))

  // ------------------------------------------------------------ T5 / T6
  /** T5 — serialize one event to a single-record Avro binary datum
    * (`server/sender/kafka.go:111-117`). */
  val avroBytes: Column = AvroCodec.toAvro(
    col("id"), col("name"), col("props"),
    col("serverTimestamp"), col("clientTimestamp"))

  def serialize(df: DataFrame): DataFrame =
    df.select(avroBytes.as("value"))

  /** T6 — decode an Avro `value` column back to the envelope
    * (notebook ipynb cell 3: `from_avro("value", schema)`). */
  def deserialize(df: DataFrame): DataFrame =
    df.select(AvroCodec.fromAvro(col("value")).as("event"))
      .select(col("event.*"))

  /** Avro round-trip — the reference's own correctness invariant
    * (`server/app/server_test.go:110-167`). */
  def roundTrip(df: DataFrame): DataFrame =
    df.select(AvroCodec.fromAvro(avroBytes).as("event"))
      .select(col("event.*"))

  // ---------------------------------------------------------------- T7
  /** Kafka topic routing: `"sv-uploads-" + topic`
    * (`server/forwarder/kafka.go:65`). */
  def withKafkaTopic(df: DataFrame): DataFrame =
    df.withColumn("kafka_topic", concat(lit(EventSchema.topicPrefix), col("topic")))

  /**
   * The full ingest pipeline as one composed operator:
   * validate → size-limit → enrich → (optionally) serialize. This is the
   * reference's tier-2 dataflow (`server/sender/kafka.go:71-137`) as a
   * single declarative plan — Catalyst fuses all of it into one
   * whole-stage-codegen'd pass over the input.
   */
  def pipeline(df: DataFrame, serverTimestampMs: Option[Long] = None,
               maxBytes: Int = EventSchema.defaultMaxMessageBytes): DataFrame = {
    val enriched = serverTimestampMs match {
      case Some(ts) => enrichAt(validate(df), ts)
      case None     => enrich(validate(df))
    }
    enriched.filter(octet_length(avroBytes) < lit(maxBytes))
  }
}
