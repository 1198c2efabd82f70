package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/**
 * Streaming observability (the reference's Prometheus tier, SURVEY.md
 * §2.4, applied to the pipeline itself): a `StreamingQueryListener`
 * accumulating per-query counters — batches seen, rows ingested, rows
 * of state, last processing rate — the numbers the reference exports as
 * `events_ingested` / `events_failed` style gauges, plus the trigger
 * phases (`queryPlanning`, `addBatch`, `walCommit`, `triggerExecution`,
 * …) summed over the batches that reported progress (idle triggers
 * report none), so a slow stream shows where its time went.
 *
 * Listener callbacks run on the driver's listener bus (no executor
 * cost); counters are lock-free atomics in a concurrent map, readable
 * at any time by a metrics scraper. Register once per session.
 */
object Monitor {

  /** Running totals for one streaming query (by query name or id);
    * `phaseMs` sums each `StreamingQueryProgress.durationMs` phase. */
  final case class QueryStats(
      batches: Long, inputRows: Long, stateRows: Long,
      lastRowsPerSec: Double, terminated: Boolean,
      phaseMs: Map[String, Long] = Map.empty)

  final class Listener extends StreamingQueryListener {
    private val stats = new ConcurrentHashMap[String, QueryStats]()
    // QueryTerminatedEvent carries no name — remember each id's stats key
    // at start so named queries get their terminated flag set too.
    private val idToKey = new ConcurrentHashMap[String, String]()

    private def keyOf(id: java.util.UUID, name: String): String =
      if (name != null && name.nonEmpty) name else id.toString

    override def onQueryStarted(event: QueryStartedEvent): Unit = {
      val k = keyOf(event.id, event.name)
      idToKey.put(event.id.toString, k)
      stats.putIfAbsent(k, QueryStats(0L, 0L, 0L, 0.0, terminated = false))
    }

    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      val k = keyOf(p.id, p.name)
      stats.merge(k,
        QueryStats(1L, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.processedRowsPerSecond, terminated = false,
          p.durationMs.asScala.map { case (ph, ms) => ph -> ms.longValue }.toMap),
        (a, b) => QueryStats(
          a.batches + 1, a.inputRows + b.inputRows,
          b.stateRows, b.lastRowsPerSec, a.terminated,
          b.phaseMs.foldLeft(a.phaseMs) { case (acc, (ph, ms)) =>
            acc.updated(ph, acc.getOrElse(ph, 0L) + ms) }))
    }

    override def onQueryIdle(event: QueryIdleEvent): Unit = ()

    override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
      stats.computeIfPresent(
        idToKey.getOrDefault(event.id.toString, event.id.toString),
        (_, s) => s.copy(terminated = true))

    /** Snapshot for a query by name (or id string). */
    def snapshot(key: String): Option[QueryStats] = Option(stats.get(key))
  }

  /** Register a fresh listener on the session; returns it for scraping. */
  def attach(spark: SparkSession): Listener = {
    val l = new Listener
    spark.streams.addListener(l)
    l
  }

  // ------------------------------------------------------- sink counters

  /** One scrape row for a registered sink — the reference's
    * ok/retried/DROPPED counter triple (metrics/metrics.go:59-66): retry
    * exhaustion must be observable from the same surface as the query
    * stats, because silently-dropped rows are the one failure mode a
    * streaming pipeline cannot see from row counts alone. */
  final case class SinkStats(sent: Long, retried: Long, dropped: Long)

  private val sinks =
    new ConcurrentHashMap[String, RetryingSink.Metrics]()

  /** Register a sink's accumulators under a scrape name (accumulator
    * values are driver-readable at any time; re-registering a name
    * replaces the previous sink, matching listener semantics). */
  def registerSink(name: String, m: RetryingSink.Metrics): Unit =
    sinks.put(name, m)

  /** Snapshot a registered sink's counters. */
  def sinkSnapshot(name: String): Option[SinkStats] =
    Option(sinks.get(name)).map(m =>
      SinkStats(m.sent.value, m.retried.value, m.dropped.value))

  /** Deregister a sink when its query terminates, returning the final
    * counter snapshot (for a last scrape/log line). The registry is
    * static so scrapers can reach it without plumbing; without this
    * hook a long-lived driver cycling queries leaks one Metrics entry —
    * and its backing accumulators — per restart, forever. */
  def unregisterSink(name: String): Option[SinkStats] = {
    val last = sinkSnapshot(name)
    sinks.remove(name)
    last
  }

  /** Remove a listener attached by [[attach]] — the companion bound for
    * the listener-bus side: each attach registers driver-side state that
    * outlives the queries it watched. */
  def detach(spark: SparkSession, l: Listener): Unit =
    spark.streams.removeListener(l)
}
