package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.functions.{AvroCodec, AvroField}
import graft.ingest.Ingest
import graft.model.EventSchema
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * The field-wise Avro reader ([[AvroField]]) against Avro's own
 * `GenericDatumReader` on the envelope schema, in generated code and
 * interpreted, plus the plan shape that makes it pay: a validation
 * filter pushed below `AvroCodec.fromAvro` reads only the fields it
 * tests, and the decode stays in whole-stage codegen.
 */
class AvroFieldSpec extends SparkSpec {

  private lazy val codegenOnly = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private val schema = new Schema.Parser().parse(EventSchema.avroJson)

  private case class Env(id: String, name: String, props: Map[String, String],
      sts: Long, cts: Long)

  private def record(e: Env): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("id", e.id)
    r.put("name", e.name)
    r.put("props", e.props.asJava)
    r.put("serverTimestamp", e.sts)
    r.put("clientTimestamp", e.cts)
    r
  }

  private def write(e: Env, encoder: ByteArrayOutputStream => BinaryEncoder): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = encoder(out)
    new GenericDatumWriter[GenericRecord](schema).write(record(e), enc)
    enc.flush()
    out.toByteArray
  }

  private def direct(e: Env) = write(e, EncoderFactory.get().directBinaryEncoder(_, null))

  /** Blocked map encoding: small blocks, each with a negative count
    * followed by its byte size. */
  private def blocked(e: Env) =
    write(e, new EncoderFactory().configureBlockSize(64).blockingBinaryEncoder(_, null))

  /** Avro's own decode of a datum, as the five field values. */
  private def reference(datum: Array[Byte]): Seq[Any] = {
    val r = new GenericDatumReader[GenericRecord](schema)
      .read(null, DecoderFactory.get().binaryDecoder(datum, null))
    Seq(r.get("id").toString, r.get("name").toString,
      r.get("props").asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
        .map { case (k, v) => k.toString -> v.toString }.toMap,
      r.get("serverTimestamp"), r.get("clientTimestamp"))
  }

  private def fields(value: Column) =
    (0 until 5).map(i => ofExpr(AvroField(exprOf(value), i)).as(s"f$i"))

  private def values(r: Row): Seq[Any] =
    Seq(r.getString(0), r.getString(1), r.getMap[String, String](2).toMap,
      r.getLong(3), r.getLong(4))

  /** Generated-code read of every field, through a non-local scan. */
  private def readCodegen(datums: Seq[Array[Byte]]): Seq[Seq[Any]] = {
    val s = codegenOnly
    import s.implicits._
    s.sparkContext.parallelize(datums, 2).toDF("value")
      .select(fields(col("value")): _*).collect().toSeq.map(values)
  }

  /** Interpreted read of every field. */
  private def readInterpreted(datum: Array[Byte]): Seq[Any] = {
    def at(i: Int) = AvroField(Literal(datum, BinaryType), i).eval()
    val m = at(2).asInstanceOf[MapData]
    Seq(at(0).toString, at(1).toString,
      m.keyArray().toSeq[UTF8String](StringType).map(_.toString)
        .zip(m.valueArray().toSeq[UTF8String](StringType).map(_.toString)).toMap,
      at(3), at(4))
  }

  private def assertMatches(datums: Seq[Array[Byte]]): Unit = {
    val want = datums.map(reference)
    assert(readCodegen(datums) === want)
    datums.zip(want).foreach { case (d, w) => assert(readInterpreted(d) === w) }
  }

  private val text = Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("a", "é", "ü", "✓", "中", "𝄞", " ")).map(_.mkString))
  private val envGen = for {
    id <- text
    name <- text
    props <- Gen.mapOf(Gen.zip(text, text))
    sts <- Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue), Gen.const(0L))
    cts <- Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue), Gen.const(-1L))
  } yield Env(id, name, props, sts, cts)
  private val sampled = (0 until 60).flatMap(i =>
    envGen.apply(Gen.Parameters.default.withSize(40), Seed(7L + i)))

  private val edges = Seq(
    Env("", "", Map.empty, 0L, 0L),
    Env("e1", "ev", Map.empty, Long.MaxValue, Long.MinValue),
    Env("ünïcode-✓", "名前𝄞", Map("ключ" -> "значение", "" -> "", "k" -> "✓"), 1L, -1L))

  test("the reader's fixed field layout is the envelope wire schema") {
    val wire = schema.getFields.asScala.map(f => f.name -> f.schema.getType.getName)
    assert(wire.map(_._1) === EventSchema.stored.fieldNames.toSeq)
    assert(wire.map(_._2) === Seq("string", "string", "map", "long", "long"))
    assert(schema.getField("props").schema.getValueType.getType.getName === "string")
  }

  test("every field equals GenericDatumReader on random envelopes (property)") {
    assert(sampled.length === 60 && sampled.exists(_.props.size > 5))
    assertMatches(sampled.map(direct))
  }

  test("every field equals GenericDatumReader on empty maps and non-ASCII UTF-8") {
    assertMatches(edges.map(direct))
  }

  test("multi-block and negative-count maps read like GenericDatumReader") {
    val big = Env("id", "nm", (1 to 40).map(i => s"key-$i" -> ("v" * i)).toMap, 5L, 6L)
    val envs = big +: (sampled ++ edges).filter(_.props.nonEmpty)
    val datums = envs.map(blocked)
    // the blocked form really differs from the one-block form
    assert(datums.head.length > direct(big).length)
    assertMatches(datums)
  }

  test("a key repeated on the wire keeps its last value, as Avro's map reader does") {
    // hand-made datum: id "a", name "b", one block of two "k" entries, 0, 3, 4
    def str(s: String) = (s.length * 2).toByte +: s.getBytes("UTF-8")
    val datum = (str("a") ++ str("b") ++ Array[Byte](4) ++ str("k") ++ str("1") ++
      str("k") ++ str("2") ++ Array[Byte](0, 6, 8)).toArray
    assert(reference(datum)(2) === Map("k" -> "2"))
    assertMatches(Seq(datum))
    assert(AvroField(Literal(datum, BinaryType), 2).eval().asInstanceOf[MapData]
      .numElements() === 1)
    val s = codegenOnly
    import s.implicits._
    assert(s.sparkContext.parallelize(Seq(datum), 1).toDF("value")
      .select(size(ofExpr(AvroField(exprOf(col("value")), 2)))).head().getInt(0) === 1)
  }

  test("malformed datums throw instead of returning garbage") {
    def rejects(datum: Array[Byte], ordinal: Int): Unit = {
      val e = intercept[IllegalArgumentException](
        AvroField(Literal(datum, BinaryType), ordinal).eval())
      assert(e.getMessage.startsWith("malformed Avro event datum"), e.getMessage)
    }
    val whole = direct(Env("id-1", "ev", Map("k" -> "v", "k2" -> "v2"), 11L, 7L))
    // every strict prefix: the last field is always cut off
    for (n <- 0 until whole.length) rejects(whole.take(n), 4)
    // every prefix that ends before the timestamps cuts the props map
    for (n <- 0 until whole.length - 2) rejects(whole.take(n), 2)
    // negative string length (zigzag -1) for the id
    rejects(Array[Byte](1, 'a'.toByte), 0)
    // negative length of a string after the id
    rejects(Array[Byte](2, 'a'.toByte, 3), 1)
    // an 11-byte varint where serverTimestamp is
    val prefix = direct(Env("a", "b", Map.empty, 0L, 0L)).take(5)
    rejects(prefix ++ Array.fill[Byte](10)(0x80.toByte) ++ Array[Byte](1, 0), 3)
    // a map block count larger than the bytes left
    rejects(Array[Byte](0, 0, 100, 0, 0, 0), 2)
    // generated code throws too
    val s = codegenOnly
    import s.implicits._
    val err = intercept[Exception](s.sparkContext.parallelize(Seq(whole.take(6)), 1)
      .toDF("value").select(fields(col("value")): _*).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("malformed Avro event datum")), err)
  }

  test("a null datum reads as null in every field") {
    val s = codegenOnly
    import s.implicits._
    val nulls = s.sparkContext.parallelize(Seq(Option.empty[Array[Byte]], None), 2)
      .toDF("value")
    val r = nulls.select(fields(col("value")): _*).collect()
    assert(r.length === 2 && r.forall(row => (0 until 5).forall(row.isNullAt)))
    // fromAvro: a struct of nulls
    val e = nulls.select(AvroCodec.fromAvro(col("value")).as("e")).select("e.*").collect()
    assert(e.forall(row => row.length == 5 && (0 until 5).forall(row.isNullAt)))
    assert((0 until 5).forall(i => AvroField(Literal(null, BinaryType), i).eval() == null))
  }

  test("a non-binary input fails analysis") {
    intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(fields(col("id").cast("string")): _*).collect())
  }

  /** A parquet feed of (topic, value) Avro datums, so plans run over a real
    * scan rather than a local relation folded away by the optimizer. */
  private lazy val feed: DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("avro-field-feed").resolve("feed").toString
    (edges ++ sampled.take(10)).map(e => ("t", direct(e))).toDF("topic", "value")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def decoded(raw: DataFrame): DataFrame =
    raw.select(col("topic"), AvroCodec.fromAvro(col("value")).as("e"))
      .select(col("topic"), col("e.*"))

  private def readers(e: Expression): Seq[Int] =
    e.collect { case AvroField(_, i) => i }

  /** Whether some node matching `p` runs inside a whole-stage codegen
    * stage of `plan`. */
  private def inCodegen(plan: SparkPlan)(p: SparkPlan => Boolean): Boolean = {
    def stage(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case _ => n +: n.children.flatMap(stage)
    }
    plan.collect { case w: WholeStageCodegenExec => w }.exists(w => stage(w.child).exists(p))
  }

  test("validate over fromAvro: the pushed-down filter never reads props") {
    val df = Ingest.validate(decoded(feed))
    val plan = df.queryExecution.optimizedPlan
    val filters = plan.collect { case f: Filter => f }
    assert(filters.nonEmpty)
    val tested = filters.flatMap(f => readers(f.condition)).toSet
    assert(tested === Set(0, 1, 4), plan)
    val projected = plan.collect { case p: Project => p.projectList.flatMap(readers) }.flatten
    assert(projected.sorted === Seq(0, 1, 2, 3, 4), plan)
    assert(plan.find(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))).isEmpty)
    assert(df.count() === edges.count(e => e.id.nonEmpty && e.name.nonEmpty && e.cts != 0L) +
      sampled.take(10).count(e => e.id.nonEmpty && e.name.nonEmpty && e.cts != 0L))
  }

  test("validate over fromAvro: filter and projection stay in whole-stage codegen") {
    val df = Ingest.validate(decoded(feed))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(inCodegen(plan) {
      case f: FilterExec => readers(f.condition).nonEmpty
      case _ => false
    }, plan)
    assert(inCodegen(plan) {
      case p: ProjectExec => p.projectList.flatMap(readers).contains(2)
      case _ => false
    }, plan)
  }

  test("roundTrip keeps its encode in one codegen'd projection, evaluated once per row") {
    val df = Ingest.roundTrip(Ingest.enrichAt(decoded(feed), 9L))
    assert(df.select("id").as[String](Encoders.STRING)
      .collect().sorted.toSeq === (edges ++ sampled.take(10)).map(_.id).sorted)
    val plan = df.queryExecution.executedPlan
    def encodes(p: ProjectExec) = p.projectList.exists(_.exists(_.isInstanceOf[ScalaUDF]))
    assert(plan.collect { case p: ProjectExec if encodes(p) => p }.length === 1, plan)
    assert(inCodegen(plan) {
      case p: ProjectExec => encodes(p)
      case _ => false
    }, plan)
    // the encode feeds five field readers; subexpression elimination
    // leaves one call of the five-argument encode function per row
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(raw"\(scala\.Function5\) references".r.findAllIn(code).length === 1, code)
    // and, observed through a counting stand-in, once per row it is
    val calls = spark.sparkContext.longAccumulator("encodes")
    val counted = udf((b: Array[Byte]) => { calls.add(1); b })
    val n = feed.select(AvroCodec.fromAvro(counted(col("value"))).as("e"))
      .select(col("e.*")).collect().length
    assert(calls.value === n.toLong)
  }
}
