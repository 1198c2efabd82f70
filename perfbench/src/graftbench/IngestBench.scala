package graftbench

import java.io.File

import scala.collection.mutable
import scala.io.Source

import graft.functions.AvroCodec
import graft.ingest.Ingest
import graft.pipeline.DatePartition
import graft.streaming.{EventStream, Monitor}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

/**
 * The file-fed ingest stream: Avro feed files -> decode -> validate ->
 * watermark dedup -> date-partitioned append, the reference notebook's
 * pipeline with a file source standing in for Kafka.
 *
 * live: an open loop. One generator thread releases pre-built feed
 * files by atomic rename on a fixed schedule (`liveRate` events/s, a
 * third or less of the backfill capacity measured on a 4-core machine,
 * so the backlog stays flat even when the host is contended), while the
 * query runs with the default trigger. Latency of a file runs from its
 * scheduled release to the end of the trigger that committed it.
 * Wall time is the median trigger's, which sets the latency: the stream
 * runs its triggers back to back. Throughput, landed events from the
 * first release to the last commit, equals the offered rate while the
 * stream keeps up, so it only shows a loss of capacity.
 *
 * backfill: the whole backlog is present at start and drained with at
 * most `maxFiles` files per trigger (the reference consumer's
 * earliest-offset start); repeated over fresh tables, `--seconds` / 4.8 s
 * rounds. Every file is released at the round's start, so a
 * file's latency runs from the first trigger's start to the end of the
 * trigger that committed it.
 */
final class IngestBench(live: Boolean) extends Workload {

  // live: 100-event files every 100 ms = 1,000 events/s
  private val livePerFile = 100
  private val liveRate = 1000.0
  // backfill: 20 files of 1,000 events, at most 7 files (7k events) per
  // trigger, so a round drains in three triggers of 7, 7 and 6 files
  private val bfPerFile = 1000
  private val bfFiles = 20
  private val maxFiles = 7
  // nominal time of one timed round, with its checks, on an idle 4-core machine
  private val roundS = 4.8
  private val tailQueryReps = 20

  private val feedSchema = StructType(Seq(
    StructField("topic", StringType), StructField("value", BinaryType)))

  private var cfg: Gen.EvCfg = _
  private var truth: Gen.FeedTruth = _
  private var staged: Seq[File] = Nil
  private var backlogMax = 0
  private var lateMax = 0.0
  /** Progress of each measured stream of the current pass. */
  private val streams = mutable.ArrayBuffer.empty[Seq[StreamingQueryProgress]]
  private var lastTable: File = _
  private var tailScanFiles = 0L
  private var released: Seq[File] = Nil

  def prepare(c: Ctx): Unit = {
    if (live) {
      // the warm feed is big enough for the JIT to compile the per-event paths
      val warmCfg = Gen.EvCfg(c.args.seed + 1000003L, 4000, 1000)
      Gen.writeFeed(c.spark, warmCfg, c.dir("warm_feed"), c.dir("warm_stage"))
    }
    cfg =
      if (live) {
        val files = math.ceil(c.args.seconds * liveRate / livePerFile).toInt
        Gen.EvCfg(c.args.seed, files.toLong * livePerFile, livePerFile)
      } else Gen.EvCfg(c.args.seed, bfFiles.toLong * bfPerFile, bfPerFile)
    staged = Gen.writeFeed(c.spark, cfg, c.dir("feed_stage"), c.dir("gen_tmp"))
    truth = Gen.feedTruth(cfg)
    c.layer("gen.events") = cfg.n.toDouble
    c.info("feed") = Map("events" -> truth.events, "invalid" -> truth.invalid,
      "replays" -> truth.replays, "landed" -> truth.landed, "files" -> cfg.nFiles)
  }

  /** Decode keeps the Kafka-side `topic` column next to the envelope:
    * `Ingest.deserialize` selects only the Avro fields, and the wire
    * record carries no topic, which `Ingest.validate` requires. */
  private def decoded(raw: DataFrame): DataFrame =
    raw.select(col("topic"), AvroCodec.fromAvro(col("value")).as("e"))
      .select(col("topic"), col("e.*"))

  private def start(c: Ctx, feed: File, table: File, ckpt: File,
      filesPerTrigger: Option[Int]): StreamingQuery = {
    val r = c.spark.readStream.schema(feedSchema)
    val raw = filesPerTrigger.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong)).parquet(feed.getPath)
    val valid = Ingest.validate(decoded(raw))
      .withColumn("event_time", timestamp_millis(col("clientTimestamp")))
    val landed = EventStream.dedupped(valid, "event_time").drop("event_time")
    DatePartition.streamAppend(landed, table.getPath, ckpt.getPath)
  }

  /** Run one stream to completion over whatever `feed` will hold, with a
    * Monitor attached for the cross-check; returns the query's progress. */
  private def runStream(c: Ctx, feed: File, table: File, ckpt: File,
      filesPerTrigger: Option[Int], during: StreamingQuery => Unit): Seq[StreamingQueryProgress] = {
    val mon = Monitor.attach(c.spark)
    val q = start(c, feed, table, ckpt, filesPerTrigger)
    try {
      during(q)
      q.processAllAvailable()
    } finally q.stop()
    c.progress.awaitEnd(q.id)
    val prog = c.progress.of(q.id)
    // observability cross-check: the library's Monitor must see the same
    // batches and input rows as the benchmark's own listener
    val snap = mon.snapshot(q.id.toString)
    c.check("monitor batches") { snap.exists(_.batches == prog.length) }
    c.check("monitor input rows") { snap.exists(_.inputRows == prog.map(_.numInputRows).sum) }
    Monitor.detach(c.spark, mon)
    prog
  }

  /** Keep a measured stream's progress: its triggers count as operations
    * and, in the traced pass, become spans. */
  private def record(c: Ctx, prog: Seq[StreamingQueryProgress]): Unit = {
    streams += prog
    c.attempted += prog.length
    c.tracer.foreach(t => prog.foreach(p =>
      t.add(s"trigger ${p.batchId}", "streaming.trigger", ProgressLog.startMs(p), ProgressLog.endMs(p))))
  }

  /** live: a small feed of its own; backfill: one whole round over the
    * measured backlog. */
  def warm(c: Ctx): Unit = {
    val table = c.dir("warm_table")
    if (live) runStream(c, c.dir("warm_feed"), table, c.dir("warm_ckpt"), Some(2), _ => ())
    else runStream(c, c.dir("feed_stage"), table, c.dir("warm_ckpt"), Some(maxFiles), _ => ())
    tailQuery(c, table).collect()
  }

  /** The q01 shape over the landed table: daily counts by name. */
  private def tailQuery(c: Ctx, table: File): DataFrame =
    c.spark.read.parquet(table.getPath)
      .groupBy(col("year"), col("month"), col("day"), col("name"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("year", "month", "day", "name")

  def measure(c: Ctx): Unit = {
    streams.clear()
    backlogMax = 0
    if (live) measureLive(c) else measureBackfill(c)
    // closed-loop tail queries over the table just landed
    val qms = (0 until tailQueryReps).flatMap { k =>
      c.op(s"tail query $k") {
        val df = tailQuery(c, lastTable)
        val (rows, ms) = Util.timed(c.span("tail query", "pipeline")(df.collect()))
        if (k == 0) {
          checkTail(c, rows)
          tailScanFiles = scannedFiles(df)
        }
        ms
      }
    }
    if (qms.nonEmpty) c.e2e("query_ms") = Util.median(qms)
    checkLanded(c, lastTable)
    c.check("rejected count") {
      val n = Ingest.rejects(decoded(c.spark.read.schema(feedSchema)
        .parquet((if (live) c.out("feed") else c.dir("feed_stage")).getPath))).count()
      c.layer("ingest.rejected") = n.toDouble
      n == truth.invalid
    }
  }

  private def measureLive(c: Ctx): Unit = {
    // a second pass re-releases the files the first one moved
    staged.zip(released).foreach { case (s, r) => if (!s.exists) require(r.renameTo(s)) }
    val feed = c.out("feed")
    feed.mkdirs()
    released = staged.map(f => new File(feed, f.getName))
    val interval = livePerFile / liveRate * 1000.0
    val due = mutable.ArrayBuffer.empty[Double]
    val lateness = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Int]
    var t0 = 0.0
    val prog = c.span("live stream", "streaming") {
      runStream(c, feed, c.out("table"), c.out("ckpt"), None, q => {
        t0 = Util.nowMs() + 200
        // generator: release file k at t0 + k*interval, by atomic rename
        staged.zipWithIndex.foreach { case (f, k) =>
          val at = t0 + k * interval
          val wait = at - Util.nowMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val target = new File(feed, f.getName)
          f.setLastModified(System.currentTimeMillis())
          require(f.renameTo(target), s"cannot release $f")
          lateness += Util.nowMs() - at
          due += at
          val committed = c.progress.of(q.id).map(_.numInputRows).sum / livePerFile
          backlog += k + 1 - committed.toInt
        }
      })
    }
    lateMax = lateness.max
    backlogMax = backlog.max
    // a flat backlog peaks as high in the first half of the run as in the second
    val (first, second) = backlog.splitAt(backlog.length / 2)
    val batchEnd = prog.map(p => p.batchId -> ProgressLog.endMs(p)).toMap
    val fileBatch = sourceLog(c.out("ckpt"))
    val lat = staged.indices.flatMap { k =>
      fileBatch.get(f"f$k%06d.parquet").flatMap(batchEnd.get).map(_ - due(k))
    }
    c.check("every released file committed") { lat.length == staged.length }
    if (lat.nonEmpty) {
      c.e2e("lat_p50_ms") = Util.median(lat)
      val (v, pct, n) = Util.tail(lat)
      c.e2e("lat_tail_ms") = v
      c.info("lat_tail") = Map("percentile" -> pct, "samples" -> n)
    }
    record(c, prog)
    val data = prog.filter(_.numInputRows > 0)
    c.e2e("wall_s") = Util.median(data.map(ProgressLog.dur(_, "triggerExecution"))) / 1000.0
    c.e2e("events_per_s") = truth.landed / ((data.map(ProgressLog.endMs).max - t0) / 1000.0)
    c.info("gen") = Map("late_ms_max" -> lateMax, "interval_ms" -> interval,
      "backlog_files_max_first_half" -> first.max, "backlog_files_max_second_half" -> second.max)
    lastTable = c.out("table")
  }

  private def measureBackfill(c: Ctx): Unit = {
    val feed = c.dir("feed_stage")
    // order the backlog by modification time, as a file source reads it
    val base = System.currentTimeMillis() - staged.length * 1000L
    staged.zipWithIndex.foreach { case (f, k) => f.setLastModified(base + k * 1000L) }
    val rates = mutable.ArrayBuffer.empty[Double]
    val walls = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val rounds = Util.reps(c.args.seconds, roundS, 2)
    (0 until rounds).foreach { round =>
      val table = c.out(s"table_$round")
      val r = c.op(s"backfill round $round") {
        c.span(s"backfill round $round", "streaming") {
          runStream(c, feed, table, c.out(s"ckpt_$round"), Some(maxFiles), _ => ())
        }
      }
      r.foreach { prog =>
        record(c, prog)
        val data = prog.filter(_.numInputRows > 0)
        val t0 = data.map(ProgressLog.startMs).min
        val wall = data.map(ProgressLog.endMs).max - t0
        walls += wall
        rates += truth.landed / (wall / 1000.0)
        // per file: the round's start to the end of the trigger that committed it
        val batchEnd = prog.map(p => p.batchId -> ProgressLog.endMs(p)).toMap
        lat ++= sourceLog(c.out(s"ckpt_$round")).values.flatMap(batchEnd.get).map(_ - t0)
      }
      if (round > 0) {
        // keep the disk small: check the previous round's table, then drop it
        checkLanded(c, lastTable)
        Util.deleteTree(lastTable)
      }
      lastTable = table
    }
    backlogMax = staged.length
    if (rates.nonEmpty) {
      c.e2e("events_per_s") = Util.median(rates)
      c.e2e("wall_s") = Util.median(walls) / 1000.0
      c.e2e("lat_p50_ms") = Util.median(lat)
      val (v, pct, n) = Util.tail(lat)
      c.e2e("lat_tail_ms") = v
      c.info("lat_tail") = Map("percentile" -> pct, "samples" -> n)
    }
    c.info("rounds") = rounds
    c.info("round_s") = walls.map(_ / 1000.0)
  }

  /** file name -> batch id, from the file source's own log in the
    * checkpoint (one JSON entry per file, compacted every ten batches). */
  private def sourceLog(ckpt: File): Map[String, Long] = {
    val re = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r
    Util.filesUnder(new File(ckpt, "sources"), n => !n.startsWith(".")).flatMap { f =>
      val src = Source.fromFile(f)
      try src.getLines().flatMap(l => re.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong)).toList
      finally src.close()
    }.toMap
  }

  /** Files the executed read scanned, from its scan nodes' metrics. */
  private def scannedFiles(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case a: AdaptiveSparkPlanExec => walk(a.finalPhysicalPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Partition discovery reads year/month/day back as integers, so both
    * sides compare as numbers. */
  private def checkTail(c: Ctx, rows: Array[Row]): Unit = c.check("tail per-day counts") {
    def n(v: Any) = v.toString.toInt
    val got = rows.map(r => (n(r.get(0)), n(r.get(1)), n(r.get(2)), r.getString(3)) -> r.getLong(4)).toMap
    got == truth.perDay.map { case ((y, m, d, name), k) => (n(y), n(m), n(d), name) -> k }
  }

  private def checkLanded(c: Ctx, table: File): Unit = {
    val ids = c.spark.read.parquet(table.getPath).select(col("id")).collect().map(_.getString(0))
    c.check("landed count") { ids.length == truth.landed }
    c.check("landed ids distinct") { ids.distinct.length == ids.length }
    c.check("landed id set") { ids.map(Util.hash64).sum == truth.idHash }
  }

  def layersRun: Seq[String] = Seq("spark", "gen", "streaming", "pipeline", "ingest", "functions")

  override def layers(c: Ctx): Unit = {
    val t = c.tracer.get
    val progs = streams.toSeq.flatten
    val data = progs.filter(_.numInputRows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.median(xs)
    def d(k: String) = data.map(ProgressLog.dur(_, k))
    val ops = progs.flatMap(_.stateOperators.toSeq)
    c.layer ++= Seq(
      "streaming.triggers" -> progs.length.toDouble,
      "streaming.trigger_ms" -> med(d("triggerExecution")),
      "streaming.plan_ms" -> med(d("queryPlanning")),
      "streaming.offsets_ms" -> med(data.map(p => ProgressLog.dur(p, "latestOffset") + ProgressLog.dur(p, "getBatch"))),
      "streaming.commit_ms" -> med(data.map(p => ProgressLog.dur(p, "walCommit") + ProgressLog.dur(p, "commitOffsets"))),
      "streaming.state_rows" -> streams.lastOption.flatMap(_.lastOption)
        .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> streams.lastOption.flatMap(_.lastOption)
        .map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "streaming.state_commit_ms" -> med(data.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble))),
      "streaming.dup_dropped" -> ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.doubleValue).getOrElse(0.0)).sum / streams.length.max(1),
      "streaming.late_dropped" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum / streams.length.max(1),
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "pipeline.add_batch_ms" -> med(d("addBatch")),
      "pipeline.query_files_scanned" -> tailScanFiles.toDouble)
    if (live) c.layer("gen.late_ms_max") = lateMax
    val files = Util.filesUnder(lastTable, n => n.endsWith(".parquet"))
    c.layer ++= Seq(
      "pipeline.files_written" -> files.length.toDouble,
      "pipeline.bytes_written" -> files.map(_.length).sum.toDouble,
      "pipeline.partitions" -> files.map(_.getParentFile.getPath).distinct.length.toDouble)
    // per-event function costs, from executor time of batch probes over
    // the same feed: scan only, + decode, + decode and validate
    val feed = (if (live) c.out("feed") else c.dir("feed_stage")).getPath
    def raw = c.spark.read.schema(feedSchema).parquet(feed)
    def probe(df: => DataFrame): Double = Util.median((0 until 3).map(_ =>
      Trace.taskMs(t)(df.write.format("noop").mode("overwrite").save())._2))
    val scan = probe(raw)
    val dec = probe(decoded(raw))
    val valid = probe(Ingest.validate(decoded(raw)))
    val kev = cfg.n / 1000.0
    c.layer("functions.decode_ms_per_kev") = (dec - scan) / kev
    c.layer("ingest.validate_ms_per_kev") = (valid - dec) / kev
  }

  override def scales: Boolean = !live

  override def scaleUnit(c: Ctx, k: Int): Option[Double] =
    c.op(s"scaling round on $k cores") {
      val prog = runStream(c, c.dir("feed_stage"), c.dir(s"scale_table_$k"),
        c.dir(s"scale_ckpt_$k"), Some(maxFiles), _ => ())
      val data = prog.filter(_.numInputRows > 0)
      val n = data.map(_.numInputRows).sum.toDouble
      n / ((data.map(ProgressLog.endMs).max - data.map(ProgressLog.startMs).min) / 1000.0)
    }
}
