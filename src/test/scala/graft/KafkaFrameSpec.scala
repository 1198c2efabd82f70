package graft

import graft.ingest.Ingest
import graft.sources.Kafka

/** S3 — the Kafka-ready frame: (topic, key, value-as-Avro) built from
  * the envelope, with the reference's routing and wire format. The
  * connector itself needs a broker; the frame and options are the
  * testable boundary. */
class KafkaFrameSpec extends SparkSpec {
  import spark.implicits._

  test("toKafkaFrame produces routed, Avro-encoded, id-keyed rows") {
    val enriched = Ingest.enrichAt(
      Seq(("e1", "ev", "games-1", Map("k" -> "v"), 5L))
        .toDF("id", "name", "topic", "props", "clientTimestamp"), 99L)
    val frame = Kafka.toKafkaFrame(enriched)
    assert(frame.columns.toSeq === Seq("topic", "key", "value"))
    val r = frame.head()
    assert(r.getString(0) === "sv-uploads-games-1")
    assert(new String(r.getAs[Array[Byte]](1), "UTF-8") === "e1")
    // the value decodes back through the envelope codec (wire-format proof)
    val decoded = Ingest.deserialize(frame.select("value"))
      .select("id", "name", "serverTimestamp", "clientTimestamp").head()
    assert(decoded.getString(0) === "e1")
    assert(decoded.getString(1) === "ev")
    assert(decoded.getLong(2) === 99L)
    assert(decoded.getLong(3) === 5L)
  }

  test("Ingest.pipeline composes with toKafkaFrame: routed by topic, decodable") {
    val in = Seq(
      ("e1", "ev", "games-1", Map("k" -> "v"), 5L),
      ("e2", "ev", "games-2", Map.empty[String, String], 6L),
      ("e3", "ev", "", Map.empty[String, String], 7L)) // rejected: no topic
      .toDF("id", "name", "topic", "props", "clientTimestamp")
    val frame = Kafka.toKafkaFrame(Ingest.pipeline(in, Some(42L)))
    val rows = frame.collect().map(r =>
      new String(r.getAs[Array[Byte]]("key"), "UTF-8") -> r)
      .toMap
    assert(rows.keySet === Set("e1", "e2"))
    assert(rows("e1").getAs[String]("topic") === "sv-uploads-games-1")
    assert(rows("e2").getAs[String]("topic") === "sv-uploads-games-2")
    val decoded = Ingest.deserialize(frame.select("value"))
      .select("id", "props", "serverTimestamp", "clientTimestamp")
      .as[(String, Map[String, String], Long, Long)].collect().sortBy(_._1)
    assert(decoded.toSeq === Seq(("e1", Map("k" -> "v"), 42L, 5L),
      ("e2", Map.empty[String, String], 42L, 6L)))
  }

  test("producer options carry the reference's tuning") {
    assert(Kafka.producerOptions("kafka.compression.type") === "snappy")
    assert(Kafka.producerOptions("kafka.acks") === "1")
    assert(Kafka.producerOptions("kafka.max.request.size") === "1000000")
  }
}
