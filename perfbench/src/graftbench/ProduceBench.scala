package graftbench

import java.io.File

import scala.collection.mutable

import graft.ingest.Ingest
import graft.sources.Kafka
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The produce side: incoming envelopes -> `Ingest.pipeline` (validate,
 * enrich, 1 MB size gate) -> `Kafka.toKafkaFrame` -> a parquet sink
 * standing in for the broker. Each round encodes the same seeded batch;
 * `--seconds` / 2 s rounds run, at least three. It encodes with the shared
 * Avro codec where the ingest workloads decode with it.
 */
final class ProduceBench extends Workload {

  private val eventsPerRound = 20000L
  private val serverTsMs = 1704067200000L
  private val tailQueryReps = 3

  private var cfg: Gen.EvCfg = _
  private var truth: Gen.ProduceTruth = _
  private var lastOut: File = _

  private def input(c: Ctx, name: String): DataFrame = c.spark.read.parquet(c.dir(name).getPath)

  /** The produce frame of one input directory. `Ingest.pipeline`'s
    * enrich step projects the stored envelope and drops `topic`, which
    * `Kafka.toKafkaFrame` routes on, so each topic's queue runs the
    * pipeline on its own and the frame gets its topic back as a literal. */
  private def frame(c: Ctx, name: String): DataFrame =
    Gen.Topics.toSeq.map { t =>
      val in = c.spark.read.parquet(new java.io.File(c.dir(name), s"route=$t").getPath)
      Kafka.toKafkaFrame(Ingest.pipeline(in, Some(serverTsMs)).withColumn("topic", lit(t)))
    }.reduce(_ unionByName _)

  def prepare(c: Ctx): Unit = {
    val warmCfg = Gen.EvCfg(c.args.seed + 1000003L, 1000, 1000, oversizeEvery = 500)
    Gen.writeIncoming(c.spark, warmCfg, c.dir("warm_in").getPath, 1)
    // about three oversize events per round
    cfg = Gen.EvCfg(c.args.seed, eventsPerRound, eventsPerRound.toInt, oversizeEvery = 6700)
    Gen.writeIncoming(c.spark, cfg, c.dir("in").getPath, c.cores)
    truth = Gen.produceTruth(c.spark, cfg, serverTsMs)
    c.layer("gen.events") = cfg.n.toDouble
    c.info("input") = Map("events" -> truth.events, "invalid" -> truth.invalid,
      "oversize" -> truth.oversize, "admitted" -> truth.admitted)
  }

  def warm(c: Ctx): Unit =
    frame(c, "warm_in").write.parquet(c.dir("warm_out").getPath)

  def measure(c: Ctx): Unit = {
    val ms = mutable.ArrayBuffer.empty[Double]
    var ref = (0L, 0L)
    val rounds = Util.reps(c.args.seconds, 2.0, 3)
    (0 until rounds).foreach { round =>
      val out = c.out(s"out_$round")
      c.op(s"produce round $round") {
        val (_, t) = Util.timed(c.span(s"produce round $round", "ingest") {
          frame(c, "in").write.parquet(out.getPath)
        })
        ms += t
      }
      if (round == 0) {
        checkDecoded(c, out)
        ref = valueHash(c, out)
      } else {
        // later rounds must repeat round 0's records exactly; then drop them
        c.check(s"round $round repeats round 0") { valueHash(c, out) == ref }
        Util.deleteTree(out)
      }
    }
    lastOut = c.out("out_0")
    c.info("rounds") = rounds
    if (ms.nonEmpty) {
      c.e2e("lat_p50_ms") = Util.median(ms)
      val (v, pct, n) = Util.tail(ms)
      c.e2e("lat_tail_ms") = v
      c.info("lat_tail") = Map("percentile" -> pct, "samples" -> n)
      c.e2e("wall_s") = Util.median(ms) / 1000.0
      c.e2e("events_per_s") = truth.admitted / (Util.median(ms) / 1000.0)
    }
    // closed-loop tail read over the sink: records and bytes per topic
    val qms = (0 until tailQueryReps).flatMap { k =>
      c.op(s"sink query $k") {
        Util.timed(c.span("sink query", "pipeline") {
          c.spark.read.parquet(lastOut.getPath).groupBy(col("topic"))
            .agg(count(lit(1)).as("n"), sum(length(col("value"))).as("bytes")).collect()
        })._2
      }
    }
    if (qms.nonEmpty) c.e2e("query_ms") = Util.median(qms)
    c.check("rejected count") {
      val n = Ingest.rejects(input(c, "in")).count()
      c.layer("ingest.rejected") = n.toDouble
      n == truth.invalid
    }
  }

  /** Decode every produced value with the benchmark's own codec and
    * compare the records with the admitted envelopes, by count and by an
    * order-independent hash; the size gate must drop exactly the
    * injected oversize events. */
  private def checkDecoded(c: Ctx, out: File): Unit = {
    val spark = c.spark
    import spark.implicits._
    val recs = spark.read.parquet(out.getPath)
      .select(col("topic"), col("key").cast("string"), col("value"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        var n, h = 0L
        it.foreach { case (t, k, v) =>
          n += 1
          h += Util.hash64(Gen.frameCanonical(t, k, WireCodec.decode(v)))
        }
        Iterator((n, h))
      }.collect()
    val n = recs.map(_._1).sum
    c.check("produced count") { n == truth.admitted }
    c.check("produced records") { recs.map(_._2).sum == truth.frameHash }
    c.check("size-gated count") { truth.events - truth.invalid - n == truth.oversize }
    c.layer("ingest.size_gated") = (truth.events - truth.invalid - n).toDouble
  }

  private def valueHash(c: Ctx, out: File): (Long, Long) = {
    val spark = c.spark
    import spark.implicits._
    val parts = spark.read.parquet(out.getPath).select(col("value")).as[Array[Byte]]
      .mapPartitions { it =>
        var n, h = 0L
        it.foreach { v => n += 1; h += Util.hash64(new String(v, "ISO-8859-1")) }
        Iterator((n, h))
      }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }



  def layersRun: Seq[String] = Seq("spark", "gen", "ingest", "functions")

  override def layers(c: Ctx): Unit = {
    val t = c.tracer.get
    def probe(df: => DataFrame): Double = Util.median((0 until 3).map(_ =>
      Trace.taskMs(t)(df.write.format("noop").mode("overwrite").save())._2))
    def in = input(c, "in")
    val projected = probe(in.select(col("id"), col("name"), col("props"), col("clientTimestamp"))
      .withColumn("serverTimestamp", lit(serverTsMs)))
    val enriched = probe(Ingest.enrichAt(Ingest.validate(in), serverTsMs))
    val serialized = probe(Ingest.serialize(Ingest.enrichAt(Ingest.validate(in), serverTsMs)))
    // one read and one topic, so only the encode work differs from `serialized`
    val framed = probe(Kafka.toKafkaFrame(Ingest.pipeline(in, Some(serverTsMs))
      .withColumn("topic", lit(Gen.Topics(0)))))
    val kev = cfg.n / 1000.0
    c.layer("functions.encode_ms_per_kev") = (serialized - enriched) / kev
    c.layer("functions.encodes_per_event") =
      if (serialized > enriched) (framed - enriched) / (serialized - enriched) else 0.0
    c.layer("ingest.validate_ms_per_kev") = (enriched - projected) / kev
    c.info("encode_probe_task_ms") = Map("projected" -> projected, "enriched" -> enriched,
      "serialized" -> serialized, "pipeline_and_frame" -> framed)
  }
}
