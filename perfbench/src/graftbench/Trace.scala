package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One traced interval. Times are epoch milliseconds. `parent` is 0 for
  * a root span; all spans of one benchmark run share `run`. */
final case class Span(id: Long, name: String, layer: String, start: Double,
    end: Double, parent: Long, run: String)

/**
 * Progress of every streaming query in the session, as reported by the
 * public `StreamingQueryListener`. Always on: the live workload's latency
 * is read from it, so it is part of the measurement, not of the tracing.
 */
final class ProgressLog extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.id)

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Wait until the listener bus has delivered the query's termination,
    * so every progress event of that query has been seen. */
  def awaitEnd(id: java.util.UUID, timeoutMs: Long = 30000L): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!ended.contains(id) && System.currentTimeMillis() < until) Thread.sleep(5)
    ended.contains(id)
  }
}

object ProgressLog {
  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + dur(p, "triggerExecution")
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}

/**
 * The traced run's recorder: spans opened by the benchmark around its
 * calls into each library layer, plus Spark jobs and stages from the
 * public `SparkListener` API, with task counters summed per stage.
 * Spans stay in memory until the run ends.
 */
final class Tracer(val run: String) extends SparkListener {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  final class JobRec(val id: Int, val start: Double, val stageIds: Seq[Int],
      val callSite: String) { @volatile var end: Double = Double.NaN }
  final class StageRec(val id: Int) {
    @volatile var start = Double.NaN
    @volatile var end = Double.NaN
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageRec(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the final stage is named after the action's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new JobRec(e.jobId, e.time.toDouble, e.stageIds, site))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).start = t.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.start = t.toDouble)
    e.stageInfo.completionTime.foreach(t => s.end = t.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run `f` inside a span of `layer`, child of the caller's open span. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = Util.nowMs()
    try f finally {
      spans.add(Span(id, name, layer, t0, Util.nowMs(), parent, run))
      stack.set(stack.get().tail)
    }
  }

  /** Record an interval measured elsewhere (a streaming trigger); its
    * parent is the innermost span opened by [[span]] that contains it. */
  def add(name: String, layer: String, start: Double, end: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), name, layer, start, end, -1L, run))

  /** Innermost of `among` containing time `t`, or 0. */
  private def enclosing(among: Seq[Span], t: Double): Long = {
    val inside = among.filter(s => s.start <= t && t <= s.end)
    if (inside.isEmpty) 0L else inside.minBy(s => s.end - s.start).id
  }

  def ownSpans: Seq[Span] = {
    val all = spans.asScala.toSeq.sortBy(_.start)
    val opened = all.filter(_.parent >= 0)
    all.map(s => if (s.parent >= 0) s else s.copy(parent = enclosing(opened, s.start)))
  }

  /** Every span: the benchmark's own, then one per Spark job (child of
    * the innermost own span containing its start) and one per stage
    * (child of the first job that listed it). */
  def allSpans(): Seq[Span] = {
    val own = ownSpans
    val base = ids.get() + 1
    val js = jobs.asScala.values.toSeq.filter(j => !j.end.isNaN).sortBy(_.id)
    val jobSpanId = js.zipWithIndex.map { case (j, k) => j.id -> (base + k) }.toMap
    val jobSpans = js.map { j =>
      Span(jobSpanId(j.id), s"job ${j.id} ${j.callSite}", "spark.job", j.start, j.end,
        enclosing(own, j.start), run)
    }
    val stageOwner = mutable.HashMap.empty[Int, Int]
    js.foreach(j => j.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j.id))
    val base2 = base + js.length
    val stageSpans = stages.asScala.values.toSeq
      .filter(s => !s.start.isNaN && !s.end.isNaN && stageOwner.contains(s.id))
      .sortBy(_.id).zipWithIndex.map { case (s, k) =>
        Span(base2 + k, s"stage ${s.id}", "spark.stage", s.start, s.end,
          jobSpanId.getOrElse(stageOwner(s.id), 0L), run)
      }
    own ++ jobSpans ++ stageSpans
  }

  /** Jobs that started inside [from, to]. */
  def jobsIn(from: Double, to: Double): Seq[JobRec] =
    jobs.asScala.values.toSeq.filter(j => j.start >= from && j.start <= to && !j.end.isNaN)

  /** Wait (at most 5 s) until the listener bus has delivered the end of
    * every job started in [from, to] and of each of their stages that
    * ran, so counters read afterwards are complete. */
  def settle(from: Double, to: Double): Unit = {
    val until = System.currentTimeMillis() + 5000
    def done = {
      val js = jobsIn(from, to)
      val open = jobs.asScala.values.exists(j => j.start >= from && j.start <= to && j.end.isNaN)
      js.nonEmpty && !open && stagesOf(js).forall(s => s.start.isNaN || !s.end.isNaN)
    }
    while (!done && System.currentTimeMillis() < until) Thread.sleep(5)
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.values.toSeq.filter(s => ids(s.id))
  }
}

object Trace {

  /** Length of the union of intervals, clipped to [from, to]. */
  def covered(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val xs = iv.map { case (a, b) => (a.max(from), b.min(to)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    xs.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start) - covered(ch, s.start, s.end)
      }.sum
    }
  }

  /** Spark-layer counters over the jobs of one measured window. */
  def sparkLayer(t: Tracer, from: Double, to: Double, cores: Int): Map[String, Double] = {
    val js = t.jobsIn(from, to)
    val ss = t.stagesOf(js)
    val wall = to - from
    val busy = ss.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs" -> js.length.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.task_busy_ms" -> busy,
      "spark.busy_share" -> (if (wall > 0) busy / (wall * cores) else 0.0),
      "spark.driver_gap_ms" -> (wall - covered(js.map(j => (j.start, j.end)), from, to)),
      "spark.shuffle_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> ss.map(_.gcMs).sum.toDouble)
  }

  /** Executor run time of the jobs `f` starts, with its result. */
  def taskMs[T](t: Tracer)(f: => T): (T, Double) = {
    val t0 = Util.nowMs() - 1
    val r = f
    val t1 = Util.nowMs()
    t.settle(t0, t1)
    (r, t.stagesOf(t.jobsIn(t0, t1)).map(_.runMs).sum.toDouble)
  }
}
