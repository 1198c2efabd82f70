package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one benchmark JVM was asked to do. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, launchMs: Double, cores: Int, work: File, out: File)

/** State shared by one run: the session, counters and results. */
final class Ctx(var spark: SparkSession, val args: Args, var progress: ProgressLog) {
  /** Set for the traced pass only. */
  var tracer: Option[Tracer] = None
  /** Prefix of the output directories of the current measured pass. */
  var pass = ""
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** The measured window, for the Spark-layer counters. */
  var from = 0.0
  var to = 0.0

  /** An input directory, shared by every pass. */
  def dir(name: String): File = new File(args.work, name)
  /** An output directory of the current pass. */
  def out(name: String): File = dir(pass + name)
  def cores: Int = args.cores

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** One output check: counted as attempted, and as failed if false. */
  def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch {
      case NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) {
      failed += 1
      if (!failures.exists(_.startsWith(what + ":"))) failures += s"$what: check failed"
    }
  }

  def span[T](name: String, layer: String)(f: => T): T =
    tracer.fold(f)(_.span(name, layer)(f))
}

/** A workload: generates its inputs, warms up, measures and checks. */
trait Workload {
  /** Write the inputs: the small warm-up set and the measured set. */
  def prepare(c: Ctx): Unit
  /** The untimed warm call that ends set-up. */
  def warm(c: Ctx): Unit
  /** The timed part: fills `c.e2e`, counts operations, checks outputs. */
  def measure(c: Ctx): Unit
  /** Traced-run extras: per-layer metrics beyond the Spark counters. */
  def layers(c: Ctx): Unit = ()
  /** Layers the workload runs (metric prefixes, as in `streaming`): a
    * traced run must report every listed metric of these. */
  def layersRun: Seq[String]
  /** Whether the traced run compares local[1] with local[cores]. */
  def scales: Boolean = false
  /** Throughput of one fixed unit of work on a session of `cores`
    * threads, for spark.scaling_x; None if it failed. */
  def scaleUnit(c: Ctx, cores: Int): Option[Double] = None
}

object Main {

  def workload(name: String): Workload = name match {
    case "ingest_live" => new IngestBench(live = true)
    case "ingest_backfill" => new IngestBench(live = false)
    case "produce" => new ProduceBench
    case "curation" => new CurationBench
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("launch-ms").toDouble, m("cores").toInt,
      new File(m("work")), new File(m("out")))
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = Util.nowMs()
    val a = parse(argv)
    a.work.mkdirs()
    run(a, mainMs)
  }

  private def run(a: Args, mainMs: Double): Unit = {
    val w = workload(a.workload)
    val spark = session(a.cores, a.work)
    val upMs = Util.nowMs()
    val c = new Ctx(spark, a, new ProgressLog)
    spark.streams.addListener(c.progress)
    val (_, genMs) = Util.timed(w.prepare(c))
    val (_, warmMs) = Util.timed(w.warm(c))
    val setupS = ((upMs - a.launchMs) + warmMs) / 1000.0
    c.info("setup_parts_s") = Map("jvm" -> (mainMs - a.launchMs) / 1000.0,
      "session" -> (upMs - mainMs) / 1000.0, "warm" -> warmMs / 1000.0)
    c.layer("gen.s") = genMs / 1000.0
    c.info("gen_s") = genMs / 1000.0
    c.e2e("setup_s") = setupS
    if (a.trace) {
      // the untraced figures come from a first pass in this JVM; the
      // traced pass follows with the listener and spans on
      w.measure(c)
      c.info("untraced_e2e") = c.e2e.clone()
      c.e2e.clear()
      c.e2e("setup_s") = setupS
      val t = new Tracer(s"${a.workload}-${a.seed}")
      spark.sparkContext.addSparkListener(t)
      c.tracer = Some(t)
      c.pass = "traced_"
    }
    c.from = Util.nowMs()
    c.span(a.workload, "bench")(w.measure(c))
    c.to = Util.nowMs()
    c.info("measure_s") = (c.to - c.from) / 1000.0
    if (a.trace) traced(c, w)
    val res = Map(
      "correct" -> (c.failed == 0),
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "e2e" -> c.e2e,
      "layers" -> c.layer,
      "layers_run" -> w.layersRun,
      "info" -> c.info,
      "failures" -> c.failures)
    Util.writeText(a.out.getPath, Util.json(res))
    try c.spark.stop() catch { case NonFatal(_) => () }
  }

  /** The traced run's extras: per-layer metrics, spans, self times and the
    * single-thread scaling ratio, written to `trace.json` beside the
    * result. */
  private def traced(c: Ctx, w: Workload): Unit = {
    val t = c.tracer.get
    t.settle(c.from, c.to)
    c.layer ++= Trace.sparkLayer(t, c.from, c.to, c.cores)
    w.layers(c)
    val spans = t.allSpans()
    val self = Trace.selfTimeByLayer(spans)
    // single-thread baseline: the same unit of work on local[1] and on
    // local[cores], each in a fresh session of this warm JVM
    val scaling = if (w.scales && c.cores > 1) {
      def unitOn(cores: Int): Option[Double] = {
        c.spark.stop()
        c.spark = session(cores, c.args.work)
        c.progress = new ProgressLog
        c.spark.streams.addListener(c.progress)
        w.scaleUnit(c, cores)
      }
      val one = unitOn(1)
      val many = unitOn(c.cores)
      for (o <- one; m <- many) yield m / o
    } else None
    c.layer("spark.scaling_x") = scaling.getOrElse(0.0)
    c.info("scaling_basis") = if (scaling.isDefined) s"local[${c.cores}] / local[1] throughput" else "not measured"
    Util.writeText(new File(c.args.out.getParentFile, "trace.json").getPath, Util.json(Map(
      "run" -> t.run,
      "self_ms_by_layer" -> self,
      "layers" -> c.layer,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "run" -> s.run)))))
    c.info("self_ms_by_layer") = self
    c.info("spans") = spans.length
  }
}
