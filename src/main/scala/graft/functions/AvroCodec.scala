package graft.functions

import java.io.ByteArrayOutputStream

import graft.model.EventSchema
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
import org.apache.spark.sql.functions.{struct, udf}

/**
 * Single-record Avro binary codec for the event envelope — the wire format
 * the reference produces to Kafka (one Avro datum per message, no container
 * file: `server/sender/kafka.go:111-117`) and its notebook decodes with
 * `from_avro` (ipynb cell 3).
 *
 * Decode is FIELD-WISE: [[fromAvro]] is a `struct` of five [[AvroField]]
 * expressions, one per envelope field, each reading its field straight
 * from the binary datum in generated code. Catalyst
 * simplifies `e.id` on that struct to the id reader alone, so a filter
 * pushed below the decode (`Ingest.validate` on id, name and
 * clientTimestamp) reads only the fields it tests, rows it rejects never
 * build their props map, and the surviving rows decode each field once
 * in the projection. A single record-level decode cannot be pruned that
 * way: Catalyst inlines it once per predicate that touches the record.
 * Encode is a UDF over `org.apache.avro` generic records with a
 * per-thread writer.
 */
object AvroCodec {

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(EventSchema.avroJson)

  // One writer per executor thread: Avro datum writers are stateful.
  private val writer = new ThreadLocal[GenericDatumWriter[GenericRecord]] {
    override def initialValue() = new GenericDatumWriter[GenericRecord](schema)
  }

  private[functions] def encode(id: String, name: String, props: Map[String, String],
      serverTs: Long, clientTs: Long): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    rec.put("id", id)
    rec.put("name", name)
    val m = new java.util.HashMap[String, String]()
    if (props != null) props.foreach { case (k, v) => m.put(k, v) }
    rec.put("props", m)
    rec.put("serverTimestamp", serverTs)
    rec.put("clientTimestamp", clientTs)
    val out = new ByteArrayOutputStream(64)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    writer.get().write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private val encodeUdf =
    udf((id: String, name: String, props: Map[String, String], sts: Long, cts: Long) =>
      encode(id, name, props, sts, cts))

  /** Serialize envelope columns to a single-record Avro datum (T5). */
  def toAvro(id: Column, name: Column, props: Column,
      serverTs: Column, clientTs: Column): Column =
    encodeUdf(id, name, props, serverTs, clientTs)

  /** Decode an Avro datum back to an envelope struct (T6): a `struct` of
    * the five [[AvroField]] readers, one per envelope field under the
    * stored schema's names. A null datum decodes to a struct of nulls. */
  def fromAvro(value: Column): Column = {
    val v = exprOf(value)
    struct(EventSchema.stored.fields.indices.map(i =>
      ofExpr(AvroField(v, i)).as(EventSchema.stored(i).name)): _*)
  }
}
