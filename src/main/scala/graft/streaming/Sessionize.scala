package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Custom stateful sessionization via flatMapGroupsWithState — the
 * "custom state" tier of the streaming surface (SURVEY.md §2.5), for
 * session semantics `session_window` cannot express: per-session
 * custom accumulators (count, value sum, first/last event names) and
 * timeout-driven emission.
 *
 * State per user is ONE open session (constant size); sessions close
 * either inline (a new event arrives more than `gapMs` after the
 * previous one — the closed session is emitted immediately) or by
 * event-time timeout once the watermark passes session end + gap.
 * At scale, state volume is O(active users), the minimum possible for
 * sessionization, and the watermark bounds it in time.
 */
object Sessionize {

  final case class SessionEvent(user_id: Long, ts: Timestamp, name: String, value: Double)

  final case class OpenSession(
      startMs: Long, lastMs: Long, nEvents: Long, totalValue: Double,
      firstName: String, lastName: String)

  final case class SessionSummary(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double, first_name: String, last_name: String)

  private def summarize(userId: Long, s: OpenSession): SessionSummary =
    SessionSummary(userId, new Timestamp(s.startMs), new Timestamp(s.lastMs),
      s.nEvents, s.totalValue, s.firstName, s.lastName)

  private def fold(userId: Long, events: Iterator[SessionEvent],
      state: GroupState[OpenSession], gapMs: Long): Iterator[SessionSummary] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(summarize(userId, _)).iterator
      state.remove()
      return out
    }
    val closed = Vector.newBuilder[SessionSummary]
    var open = state.getOption
    // event-time order within the batch — GroupState gives arrival order
    for (e <- events.toSeq.sortBy(_.ts.getTime)) {
      val t = e.ts.getTime
      open match {
        case Some(s) if t - s.lastMs <= gapMs =>
          open = Some(s.copy(lastMs = math.max(s.lastMs, t),
            nEvents = s.nEvents + 1, totalValue = s.totalValue + e.value,
            lastName = e.name))
        case Some(s) => // gap exceeded inside the batch: close + restart
          closed += summarize(userId, s)
          open = Some(OpenSession(t, t, 1L, e.value, e.name, e.name))
        case None =>
          open = Some(OpenSession(t, t, 1L, e.value, e.name, e.name))
      }
    }
    open.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.lastMs + gapMs)
    }
    closed.result().iterator
  }

  /**
   * Sessionize an event stream: input must have columns
   * (user_id long, ts timestamp, name string, value double).
   * Emits one SessionSummary per closed session (append mode).
   */
  def userSessions(events: DataFrame, gapMs: Long,
      watermarkDelay: String = "10 minutes")(
      implicit spark: SparkSession): Dataset[SessionSummary] = {
    import spark.implicits._
    events.selectExpr("user_id", "ts", "name", "value")
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: Long, it: Iterator[SessionEvent], st: GroupState[OpenSession]) =>
          fold(k, it, st, gapMs))
  }
}
