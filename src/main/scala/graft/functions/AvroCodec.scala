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
 * NATIVE-PATH READINESS: [[toAvro]]/[[fromAvro]] probe (once, by
 * reflection) for the spark-avro connector's
 * `org.apache.spark.sql.avro.functions` and prefer its
 * `to_avro(data, jsonFormatSchema)` / `from_avro(data, jsonFormatSchema)`
 * — under the SAME reference wire schema — the day the environment grows
 * the module jar. The Spark distribution here ships the Avro library but
 * not the connector expressions, so today the probe falls back to this
 * object's own codec.
 *
 * Decode without the connector is FIELD-WISE: [[fromAvro]] is a `struct`
 * of five [[AvroField]] expressions, one per envelope field, each reading
 * its field straight from the binary datum in generated code. Catalyst
 * simplifies `e.id` on that struct to the id reader alone, so a filter
 * pushed below the decode (`Ingest.validate` on id, name and
 * clientTimestamp) reads only the fields it tests, rows it rejects never
 * build their props map, and the surviving rows decode each field once
 * in the projection. A single record-level decode cannot be pruned that
 * way: Catalyst inlines it once per predicate that touches the record.
 * Encode is a UDF over `org.apache.avro` generic records with a
 * per-thread writer. Values are path-independent: Avro binary encoding
 * of the same (schema, values) differs at most in map-entry ORDER, which
 * neither decode nor the length-based T3 size gate observes.
 */
object AvroCodec {

  /** One probed native surface: `to_avro`/`from_avro` bound to the
    * reference wire schema. */
  private[graft] final case class NativeAvro(toAvro: Column => Column,
      fromAvro: Column => Column)

  /** The connector's functions object. CAUTION: this is API-jar surface —
    * Spark 4 ships it in spark-sql-api even WITHOUT the connector, where
    * calling it yields columns that fail at analysis ("avro functions
    * unusable"). Presence of [[NativeExpressionClass]] is what actually
    * proves the module jar is on the classpath. */
  private[graft] val NativeFunctionsClass =
    "org.apache.spark.sql.avro.functions$"

  /** The from_avro EXPRESSION implementation — ships only with the
    * spark-avro module jar (verified absent in /opt/spark/jars this
    * round, while the functions object above resolves). */
  private[graft] val NativeExpressionClass =
    "org.apache.spark.sql.avro.AvroDataToCatalyst"

  /** Reflection probe: require `guardClassName` (the class only the real
    * module ships) to load, then resolve `className` as a Scala object
    * exposing `to_avro(Column, String)` / `from_avro(Column, String)`
    * and bind both to [[EventSchema.avroJson]]. Any resolution failure —
    * class absent, shape mismatch — selects the UDF fallback; never
    * throws. */
  private[graft] def probeNative(className: String,
      guardClassName: String): Option[NativeAvro] =
    try {
      Class.forName(guardClassName)
      val cls = Class.forName(className)
      val mod = cls.getField("MODULE$").get(null)
      val toA = cls.getMethod("to_avro", classOf[Column], classOf[String])
      val fromA = cls.getMethod("from_avro", classOf[Column], classOf[String])
      Some(NativeAvro(
        c => toA.invoke(mod, c, EventSchema.avroJson).asInstanceOf[Column],
        c => fromA.invoke(mod, c, EventSchema.avroJson).asInstanceOf[Column]))
    } catch { case scala.util.control.NonFatal(_) => None }

  private lazy val native: Option[NativeAvro] =
    probeNative(NativeFunctionsClass, NativeExpressionClass)

  /** True when the connector jar is present and the native expressions
    * serve [[toAvro]]/[[fromAvro]] — the readiness flag the spec pins
    * both ways. */
  def nativePathActive: Boolean = native.isDefined

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

  /** The five [[AvroField]] readers of `value` as the envelope struct. */
  private def fieldWise(value: Column): Column = {
    val v = exprOf(value)
    struct(EventSchema.stored.fields.indices.map(i =>
      ofExpr(AvroField(v, i)).as(EventSchema.stored(i).name)): _*)
  }

  /** Serialize envelope columns to a single-record Avro datum (T5) —
    * native `to_avro` under the wire schema when the connector is
    * present, the encode UDF otherwise. */
  def toAvro(id: Column, name: Column, props: Column,
      serverTs: Column, clientTs: Column): Column = native match {
    case Some(n) =>
      // the connector encodes a struct; field order must match the
      // reference wire schema's record field order
      n.toAvro(org.apache.spark.sql.functions.struct(id.as("id"),
        name.as("name"), props.as("props"),
        serverTs.as("serverTimestamp"), clientTs.as("clientTimestamp")))
    case None => encodeUdf(id, name, props, serverTs, clientTs)
  }

  /** Decode an Avro datum back to an envelope struct (T6) — native
    * `from_avro` when the connector is present, the field-wise
    * [[AvroField]] readers otherwise (both emit the same field names, from
    * the same schema). A null datum decodes to a struct of nulls. */
  def fromAvro(value: Column): Column =
    native.fold(fieldWise(value))(_.fromAvro(value))
}
