package graft.queries

import graft.model.Tables
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/**
 * Streaming semantics in batch-checkable form (SURVEY.md §2.3 B7 + §2.5
 * streaming windows). Every operator here is the exact transform the
 * streaming path uses — event-time tumbling/sliding/session windows and
 * at-least-once dedup — run over the batch `events` table so DuckDB can
 * oracle it. The streaming wrappers live in graft.streaming and are
 * ScalaTest-checked with MemoryStream.
 */
object StreamShapeQueries {

  private val tsFmt = "yyyy-MM-dd HH:mm:ss"
  private val tsFmtMicros = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  // B7 — exact dedup of an at-least-once stream: the table unioned with
  // itself (every event delivered twice) collapses back to one row each.
  val q30 = Q(
    "q30_dedup_exact",
    (s, d) => {
      val e = Tables.events(s, d)
      Dedup.exact(e.unionAll(e))
        .select(col("event_id"), col("user_id"),
          col("event_type").as("name"), col("value"))
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, user_id, event_type AS name, value
        |FROM (SELECT DISTINCT * FROM
        |       (SELECT * FROM events UNION ALL SELECT * FROM events))
        |ORDER BY event_id""".stripMargin))

  // B7/A6 — keyed dedup keeping the latest record per key (the
  // `dropDuplicates("id")` semantic made deterministic via total ordering;
  // also the last-value gauge shape of A6).
  val q31 = Q(
    "q31_dedup_latest_per_key",
    (s, d) => Dedup.latestByKey(
      Tables.events(s, d), Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), tsFmtMicros).as("ts_str"), col("value"))
      .orderBy("user_id"),
    Some(
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin))

  // Tumbling event-time window — hourly counts/sums. In streaming this is
  // `withWatermark + groupBy(window(...))`; the aggregation itself is
  // identical here.
  val q32 = Q(
    "q32_tumbling_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), tsFmt).as("wstart"),
        col("event_type").as("name"), col("n"), col("sum_value"))
      .orderBy("wstart", "name"),
    Some(
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
         |       event_type AS name, COUNT(*) AS n, ${Det.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // Sliding event-time window — 1 h window, 30 min slide: every event lands
  // in exactly two windows. Oracle enumerates the two candidate starts.
  val q33 = Q(
    "q33_sliding_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), tsFmt).as("wstart"),
        col("n"), col("sum_value"))
      .orderBy("wstart"),
    Some(
      s"""SELECT strftime(make_timestamp(CAST((FLOOR(epoch(ts) / 1800) * 1800
         |         - i * 1800) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS wstart,
         |       COUNT(*) AS n, ${Det.dsumSql("value")} AS sum_value
         |FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS i)
         |GROUP BY 1 ORDER BY 1""".stripMargin))

  // Session window — per-user sessions closed by a 30-minute idle gap.
  // Streaming form: `groupBy(session_window($"ts", "30 minutes"), $"user_id")`
  // with a watermark; same operator evaluated in batch. Oracle is the
  // classic gaps-and-islands rewrite (break when gap >= 30 min — Spark
  // merges an event only while it lands strictly inside the open window).
  val q34 = Q(
    "q34_session_window",
    (s, d) => Tables.events(s, d)
      .filter(col("user_id") < 50)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), tsFmtMicros).as("session_start"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start"),
    Some(
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |         CASE WHEN LAG(ts) OVER w IS NULL
         |               OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
         |              THEN 1 ELSE 0 END AS brk
         |  FROM events WHERE user_id < 50
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |               ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
         |       COUNT(*) AS n, ${Det.dsumSql("value")} AS sum_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin))

  val all: Vector[Q] = Vector(q30, q31, q32, q33, q34)
}
