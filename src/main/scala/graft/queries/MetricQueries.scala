package graft.queries

import graft.model.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The reference's aggregation surface (SURVEY.md §2.4 A1–A7): its only
 * built-in analytics are Prometheus counters/gauges/histograms; here each is
 * a declarative groupBy/agg whose partial aggregation is map-side-combined —
 * the shape that scales (no per-key state beyond the small group count).
 */
object MetricQueries {

  /** Prometheus-style histogram bucketing as a CASE expression — the
    * reference's latency buckets {10,30,50,100,500} ms
    * (server/metrics/metrics.go:59-64). Codegen'd, no UDF. */
  def bucketize(c: Column, buckets: Seq[Double]): Column = {
    val base: Column = lit("+Inf")
    buckets.reverse.foldLeft(base) { (acc, b) =>
      when(c <= lit(b), lit(if (b == b.floor) b.toLong.toString else b.toString)).otherwise(acc)
    }
  }

  def bucketizeSql(col: String, buckets: Seq[Double]): String =
    buckets.map(b => s"WHEN $col <= $b THEN '${if (b == b.floor) b.toLong.toString else b.toString}'")
      .mkString("CASE ", " ", " ELSE '+Inf' END")

  private val latencyBuckets = Seq(10d, 30d, 50d, 100d, 500d)

  // A1/A3/A4 shape — histogram of a measure grouped by dimensions. `value`
  // plays the latency-ms role; (topic, name) play (route/status, topic).
  val q08 = Q(
    "q08_latency_histogram",
    (s, d) => IngestQueries.valid(s, d)
      .withColumn("bucket", bucketize(col("value"), latencyBuckets))
      .groupBy("topic", "name", "bucket")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_ms"))
      .orderBy("topic", "name", "bucket"),
    Some(IngestQueries.incomingSql +
      s"""SELECT topic, name, ${bucketizeSql("value", latencyBuckets)} AS bucket,
         |       COUNT(*) AS n, ${Det.dsumSql("value")} AS sum_ms
         |FROM valid GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  // A2 shape — payload-size histogram: byte-size buckets over documents
  // (the driver table with a real size distribution), grouped by lang.
  private val sizeBuckets = Seq(100d, 250d, 500d, 1000d)
  val q09 = Q(
    "q09_payload_histogram",
    (s, d) => Tables.documents(s, d)
      .withColumn("bucket", bucketize(octet_length(col("text")).cast("double"), sizeBuckets))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "bucket"),
    Some(
      s"""SELECT lang, ${bucketizeSql("octet_length(encode(text))", sizeBuckets)} AS bucket,
         |       COUNT(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // A5 — event counter by (topic, status-analog): the running ok/failed/
  // dropped counts per topic (metrics/metrics.go:59-66) restated as a
  // grouped count over the validated stream.
  val q10 = Q(
    "q10_event_counters",
    (s, d) => IngestQueries.valid(s, d)
      .groupBy("topic", "name")
      .agg(count(lit(1)).as("n"))
      .orderBy("topic", "name"),
    Some(IngestQueries.incomingSql +
      """SELECT topic, name, COUNT(*) AS n FROM valid
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // A7 — throughput sum: the load test's `Sent N events in D`
  // (tools/loadtest.go:194-198) as a single global aggregate.
  val q11 = Q(
    "q11_throughput_total",
    (s, d) => IngestQueries.valid(s, d)
      .agg(count(lit(1)).as("total_events"),
        Det.dsum(col("value")).as("total_value")),
    Some(IngestQueries.incomingSql +
      s"""SELECT COUNT(*) AS total_events, ${Det.dsumSql("value")} AS total_value
         |FROM valid""".stripMargin))

  // Exact percentiles of the latency measure per event name — the quantile
  // view a Prometheus histogram approximates. Spark `percentile` and DuckDB
  // `quantile_cont` both linearly interpolate.
  val q12 = Q(
    "q12_percentiles",
    (s, d) => IngestQueries.valid(s, d)
      .groupBy("name")
      .agg(
        Det.fr(expr("percentile(value, 0.25)"), 4).as("p25"),
        Det.fr(expr("percentile(value, 0.5)"), 4).as("p50"),
        Det.fr(expr("percentile(value, 0.75)"), 4).as("p75"),
        Det.fr(expr("percentile(value, 0.95)"), 4).as("p95"))
      .orderBy("name"),
    Some(IngestQueries.incomingSql +
      s"""SELECT name,
         |       ${Det.frSql("quantile_cont(value, 0.25)", 4)} AS p25,
         |       ${Det.frSql("quantile_cont(value, 0.5)", 4)} AS p50,
         |       ${Det.frSql("quantile_cont(value, 0.75)", 4)} AS p75,
         |       ${Det.frSql("quantile_cont(value, 0.95)", 4)} AS p95
         |FROM valid GROUP BY 1 ORDER BY 1""".stripMargin))

  // approx_count_distinct (HLL++) — the scale path for distinct counts:
  // no shuffle of raw values, constant-size sketch per group. Sketch
  // internals differ across engines, so no DuckDB oracle (driver records a
  // rows-only check); exactness is bounded vs q14's exact count in tests.
  val q13 = Q(
    "q13_approx_distinct",
    (s, d) => IngestQueries.valid(s, d)
      .groupBy("name")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy("name"),
    None)

  // Approximate percentiles (percentile_approx, GK sketch): the
  // shuffle-light quantile path at 100 TB — constant-size mergeable
  // sketch per group, map-side combined, vs q12's exact percentile
  // which shuffles every value. Sketch internals differ across engines
  // so there is no DuckDB oracle (rows-only check, like q13); accuracy
  // is bounded against q12 in RelationalSpec.
  val q59 = Q(
    "q59_approx_percentiles",
    (s, d) => IngestQueries.valid(s, d)
      .groupBy("name")
      .agg(
        Det.fr(expr("percentile_approx(value, 0.5, 1000)"), 4).as("p50_approx"),
        Det.fr(expr("percentile_approx(value, 0.95, 1000)"), 4).as("p95_approx"))
      .orderBy("name"),
    None)

  // Exact distinct counts — the q13 baseline.
  val q14 = Q(
    "q14_distinct_agg",
    (s, d) => IngestQueries.valid(s, d)
      .groupBy("name")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("name"),
    Some(IngestQueries.incomingSql +
      """SELECT name, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM valid GROUP BY 1 ORDER BY 1""".stripMargin))

  // A1 as ONE custom aggregate: the one-pass Prometheus histogram UDAF
  // (graft.functions.HistogramAggregator) — cumulative le-bucket counts +
  // sum in a single map-side-combinable buffer, instead of q08's
  // CASE+groupBy restatement. Output exploded to (name, le, cum_n) rows
  // so DuckDB can mirror it with plain conditional aggregation.
  val q46 = Q(
    "q46_histogram_udaf",
    (s, d) => {
      val hist = udaf(new graft.functions.HistogramAggregator.BucketHistogram(
        graft.functions.HistogramAggregator.latencyBucketsMs))
      val les = typedLit(
        graft.functions.HistogramAggregator.latencyBucketsMs
          .map(b => b.toLong.toString).toSeq :+ "+Inf")
      IngestQueries.valid(s, d)
        .groupBy("name")
        .agg(hist(col("value")).as("h"))
        .select(col("name"), posexplode(col("h.cumulative")).as(Seq("pos", "cum_n")),
          col("h.sum").as("sum_value"))
        .select(col("name"), element_at(les, col("pos") + 1).as("le"),
          col("cum_n"), col("sum_value"))
        .orderBy("name", "le")
    },
    Some(IngestQueries.incomingSql +
      s""", agg AS (
         |  SELECT name,
         |    CAST(SUM(CASE WHEN value <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN value <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |    CAST(SUM(CASE WHEN value <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
         |    COUNT(*) AS cinf,
         |    ${Det.dsumSql("value")} AS sum_value
         |  FROM valid GROUP BY 1)
         |SELECT name, le, cum_n, sum_value FROM (
         |  SELECT name, '10' AS le, c1 AS cum_n, sum_value FROM agg
         |  UNION ALL SELECT name, '30', c2, sum_value FROM agg
         |  UNION ALL SELECT name, '50', c3, sum_value FROM agg
         |  UNION ALL SELECT name, '100', c4, sum_value FROM agg
         |  UNION ALL SELECT name, '500', c5, sum_value FROM agg
         |  UNION ALL SELECT name, '+Inf', cinf, sum_value FROM agg)
         |ORDER BY name, le""".stripMargin))

  val all: Vector[Q] = Vector(q08, q09, q10, q11, q12, q13, q14, q46, q59)
}
