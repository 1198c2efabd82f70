package graftbench

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/**
 * The benchmark's own single-record Avro codec for the event envelope.
 * It writes the feed the ingest workloads decode and reads back what the
 * produce workload encoded, so neither check trusts the codec under test.
 * The schema text is the reference wire schema (id, name, props,
 * serverTimestamp, clientTimestamp), written out here on purpose rather
 * than imported from the library.
 */
object WireCodec {

  val schemaJson: String =
    """{"type":"record","name":"Event","namespace":"com.tfgco.eventsgateway",
      |"fields":[
      |{"name":"id","type":"string"},
      |{"name":"name","type":"string"},
      |{"name":"props","default":{},"type":{"type":"map","values":"string"}},
      |{"name":"serverTimestamp","type":"long"},
      |{"name":"clientTimestamp","type":"long"}]}""".stripMargin

  final case class Envelope(id: String, name: String,
      props: Map[String, String], serverTs: Long, clientTs: Long) {
    /** Order-independent identity of the envelope's content. */
    def canonical: String =
      Seq(id, name, props.toSeq.sorted.map { case (k, v) => k + "=" + v }
        .mkString(","), serverTs.toString, clientTs.toString).mkString("|")
  }

  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)

  private val writer = new ThreadLocal[GenericDatumWriter[GenericRecord]] {
    override def initialValue() = new GenericDatumWriter[GenericRecord](schema)
  }
  private val reader = new ThreadLocal[GenericDatumReader[GenericRecord]] {
    override def initialValue() = new GenericDatumReader[GenericRecord](schema)
  }

  def encode(e: Envelope): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    rec.put("id", e.id)
    rec.put("name", e.name)
    rec.put("props", e.props.asJava)
    rec.put("serverTimestamp", e.serverTs)
    rec.put("clientTimestamp", e.clientTs)
    val out = new ByteArrayOutputStream(256)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    writer.get().write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): Envelope = {
    val rec = reader.get().read(null, DecoderFactory.get().binaryDecoder(bytes, null))
    Envelope(
      rec.get("id").toString,
      rec.get("name").toString,
      rec.get("props").asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
        .map { case (k, v) => k.toString -> v.toString }.toMap,
      rec.get("serverTimestamp").asInstanceOf[Long],
      rec.get("clientTimestamp").asInstanceOf[Long])
  }
}
