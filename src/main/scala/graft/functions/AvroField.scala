package graft.functions

import graft.model.EventSchema
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static readers over one binary Avro datum of the event envelope
 * ([[EventSchema.avroJson]]: string id, string name, map<string> props,
 * long serverTimestamp, long clientTimestamp), for [[AvroField]]'s
 * codegen. Each call reads ONE field: the fields before it are skipped
 * by their length prefixes without allocating, strings come back as
 * zero-copy `UTF8String` views of the datum, and only a props read
 * builds a map. Malformed input (a truncated datum, a negative length
 * or count, a varint longer than 10 bytes) throws rather than returning
 * garbage.
 */
object AvroDatum {
  /** Wire kind of each envelope field, in record order. */
  private val KString = 0
  private val KMap = 1
  private val KLong = 2
  private val kinds = Array(KString, KString, KMap, KLong, KLong)

  /** Number of fields in the envelope record. */
  val Fields: Int = kinds.length

  def readString(datum: Array[Byte], ordinal: Int): UTF8String = at(datum, ordinal).string()

  def readMap(datum: Array[Byte], ordinal: Int): MapData = at(datum, ordinal).map()

  def readLong(datum: Array[Byte], ordinal: Int): Long = at(datum, ordinal).long()

  /** Generated-code entry point that reads field `ordinal`. */
  private[functions] def reader(ordinal: Int): String = kinds(ordinal) match {
    case KString => "readString"
    case KMap => "readMap"
    case _ => "readLong"
  }

  /** Interpreted read of field `ordinal`. */
  private[functions] def read(datum: Array[Byte], ordinal: Int): Any = kinds(ordinal) match {
    case KString => readString(datum, ordinal)
    case KMap => readMap(datum, ordinal)
    case _ => readLong(datum, ordinal)
  }

  /** A cursor positioned at the start of field `ordinal`. */
  private def at(datum: Array[Byte], ordinal: Int): Cursor = {
    val c = new Cursor(datum)
    var f = 0
    while (f < ordinal) {
      kinds(f) match {
        case KString => c.skip(c.length())
        case KMap => c.skipMap()
        case _ => c.long()
      }
      f += 1
    }
    c
  }

  private def malformed(what: String) =
    new IllegalArgumentException(s"malformed Avro event datum: $what")

  private final class Cursor(b: Array[Byte]) {
    private var pos = 0
    /** Byte size of the current map block when its count was negative,
      * else -1. */
    private var blockBytes = -1

    /** Zigzag varint, at most 10 bytes (Avro `long`; also every length,
      * count and block size). */
    def long(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        if (shift > 63) throw malformed("varint longer than 10 bytes")
        if (pos >= b.length) throw malformed("truncated")
        val x = b(pos)
        pos += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        more = x < 0
      }
      (v >>> 1) ^ -(v & 1)
    }

    /** A byte length that must fit in what is left of the datum. */
    def length(): Int = {
      val n = long()
      if (n < 0) throw malformed(s"negative length $n")
      if (n > b.length - pos) throw malformed("truncated")
      n.toInt
    }

    def skip(n: Int): Unit = pos += n

    def string(): UTF8String = {
      val n = length()
      val s = UTF8String.fromBytes(b, pos, n)
      pos += n
      s
    }

    /** Entry count of the next map block, 0 at the end. A negative count
      * is followed by the block's byte size, kept in `blockBytes`. */
    private def blockCount(): Int = {
      var n = long()
      blockBytes = -1
      if (n < 0) {
        n = -n
        blockBytes = length()
      }
      // every entry takes at least two length bytes; also rejects the
      // unnegatable Long.MinValue
      if (n < 0 || n > (b.length - pos) / 2) throw malformed(s"map block count $n")
      n.toInt
    }

    def skipMap(): Unit = {
      var n = blockCount()
      while (n != 0) {
        if (blockBytes >= 0) skip(blockBytes)
        else {
          var i = 0
          while (i < 2 * n) { skip(length()); i += 1 }
        }
        n = blockCount()
      }
    }

    /** The map in wire order; a key repeated on the wire keeps its first
      * position and its last value, as Avro's own map reader does. */
    def map(): MapData = {
      var keys = new Array[Any](0)
      var vals = new Array[Any](0)
      var m = 0
      var n = blockCount()
      while (n != 0) {
        keys = Array.copyOf(keys, m + n)
        vals = Array.copyOf(vals, m + n)
        var i = 0
        while (i < n) {
          keys(m) = string()
          vals(m) = string()
          m += 1
          i += 1
        }
        n = blockCount()
      }
      if (m > 1) m = lastWins(keys, vals, m)
      if (m < keys.length) {
        keys = Array.copyOf(keys, m)
        vals = Array.copyOf(vals, m)
      }
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    }
  }

  /** Folds repeated keys in place; returns the distinct count. */
  private def lastWins(keys: Array[Any], vals: Array[Any], n: Int): Int = {
    val first = new java.util.HashMap[Any, Integer](2 * n)
    var m = 0
    var i = 0
    while (i < n) {
      val prev = first.putIfAbsent(keys(i), m)
      if (prev == null) {
        keys(m) = keys(i)
        vals(m) = vals(i)
        m += 1
      } else vals(prev) = vals(i)
      i += 1
    }
    m
  }
}

/**
 * Field `ordinal` of an event-envelope Avro datum (binary `child`), read
 * by [[AvroDatum]] with no GenericRecord in between. One expression per
 * field, rather than one per record, is what lets Catalyst prune: under
 * [[AvroCodec.fromAvro]]'s `struct` of the five fields, `e.id` simplifies
 * to `AvroField(value, 0)`, so a filter pushed below the decode reads
 * only the fields it tests and a rejected row never builds its props
 * map. A null datum reads as null. Participates in whole-stage codegen
 * through a static call, like the other native expressions.
 */
case class AvroField(child: Expression, ordinal: Int)
    extends UnaryExpression {
  require(ordinal >= 0 && ordinal < AvroDatum.Fields,
    s"envelope field ordinal must be in [0, ${AvroDatum.Fields}), got $ordinal")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a binary datum, got ${child.dataType.catalogString}")
  override def dataType: DataType = EventSchema.stored(ordinal).dataType
  override def prettyName: String = "avro_field"
  override protected def nullSafeEval(input: Any): Any =
    AvroDatum.read(input.asInstanceOf[Array[Byte]], ordinal)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.AvroDatum.${AvroDatum.reader(ordinal)}($c, $ordinal)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
