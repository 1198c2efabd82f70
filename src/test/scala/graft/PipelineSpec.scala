package graft

import java.nio.file.Files

import graft.functions.HistogramAggregator
import graft.ingest.Ingest
import graft.pipeline.DatePartition
import graft.queries.IngestQueries
import org.apache.spark.sql.functions._

/**
 * Landing-pipeline specs (SURVEY.md S5/S6/T9): partitioned append,
 * partition PRUNING evidence on read-back, and the one-pass histogram
 * aggregator's semantics.
 */
class PipelineSpec extends SparkSpec {

  test("S6 partitioned append lands Hive-style dirs and prunes on read") {
    val out = Files.createTempDirectory("graft_part").toString
    val df = Ingest.validate(IngestQueries.incoming(spark, sfDir))
    DatePartition.appendPartitioned(df, out)

    // Hive-style layout: year=YYYY/month=MM/day=DD
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(dirs.nonEmpty)

    val back = spark.read.parquet(out)
      .filter(col("year") === "2024" && col("month") === "01" && col("day") === "05")
    // pruning evidence: the physical plan's partition filters hit y/m/d
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("year") && plan.contains("month") && plan.contains("day"))
    // and the rows come back correct vs recomputing from the source
    val expected = DatePartition.withDateParts(df)
      .filter(col("date") === "2024-01-05").count()
    assert(back.count() === expected)
  }

  test("S7 external catalog table: register + recoverPartitions (msck analog) + pruned SQL") {
    val out = Files.createTempDirectory("graft_cat").toString
    val df = Ingest.validate(IngestQueries.incoming(spark, sfDir))
    DatePartition.appendPartitioned(df, out)

    spark.sql("DROP TABLE IF EXISTS events_ext")
    DatePartition.registerExternalTable(spark, "events_ext", out, df)
    // partitions discovered by the msck-analog recovery
    assert(spark.sql("SHOW PARTITIONS events_ext").count() > 0)

    // q07's one-week aggregate, via spark.sql over the CATALOG table,
    // must match the path-based computation
    val viaTable = spark.sql(
      """SELECT name, COUNT(*) AS n FROM events_ext
        |WHERE year = '2024' AND month = '01' AND day BETWEEN '08' AND '14'
        |GROUP BY name ORDER BY name""".stripMargin)
    // pruning evidence on the catalog read
    val plan = viaTable.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    val expected = DatePartition.withDateParts(df)
      .filter(col("date").between("2024-01-08", "2024-01-14"))
      .groupBy("name").count().orderBy("name")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaTable.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === expected)
    spark.sql("DROP TABLE IF EXISTS events_ext")
  }

  test("S6/S7 managed saveAsTable + streaming toTable land partitioned catalog tables") {
    import spark.implicits._
    val df = Ingest.validate(IngestQueries.incoming(spark, sfDir))

    spark.sql("DROP TABLE IF EXISTS events_managed")
    DatePartition.appendPartitionedTable(df, "events_managed")
    assert(spark.table("events_managed").count() === df.count())
    // catalog tracks partitions as they land — no repair step needed
    assert(spark.sql("SHOW PARTITIONS events_managed").count() > 0)
    spark.sql("DROP TABLE IF EXISTS events_managed")

    // the notebook's literal `writeStream ... toTable` shape
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    spark.sql("DROP TABLE IF EXISTS events_stream_tbl")
    val q = DatePartition.streamAppendTable(
      ms.toDF().withColumnRenamed("value", "clientTimestamp"),
      "events_stream_tbl", ckpt)
    ms.addData(1704067200000L, 1706745599000L) // 2024-01-01, 2024-01-31
    q.processAllAvailable()
    q.stop()
    val days = spark.table("events_stream_tbl")
      .select("year", "month", "day").as[(String, String, String)]
      .collect().toSet
    assert(days === Set(("2024", "01", "01"), ("2024", "01", "31")))
    spark.sql("DROP TABLE IF EXISTS events_stream_tbl")
  }

  test("S6 maintenance: compaction shrinks file count, preserves rows; retention drops partitions") {
    import graft.pipeline.Maintenance
    val out = Files.createTempDirectory("graft_maint").toString
    val df = Ingest.validate(IngestQueries.incoming(spark, sfDir))
    // force several small files per partition (streaming-append shape)
    DatePartition.appendPartitioned(df.repartition(6), out)

    val days = new java.io.File(out).listFiles().filter(_.getName.startsWith("year="))
      .flatMap(_.listFiles()).flatMap(_.listFiles()).map(_.toString).sorted
    assert(days.nonEmpty)
    val target = days.head
    val Array(y, m, d) = target.split("/").takeRight(3).map(_.split("=")(1))
    val before = Maintenance.dataFiles(spark, target).size
    assert(before > 1, s"expected multiple files, got $before")
    val rowsBefore = spark.read.parquet(target).count()

    Maintenance.compactPartition(spark, out, y, m, d, targetFiles = 1)
    assert(Maintenance.dataFiles(spark, target).size === 1)
    assert(spark.read.parquet(target).count() === rowsBefore)
    // the full table still reads consistently after the swap
    val total = spark.read.parquet(out).count()
    assert(total === df.count())

    // retention: drop everything before the 8th of the first month
    val cutoff = s"$y-$m-08"
    val dropped = Maintenance.dropPartitionsBefore(spark, out, cutoff)
    assert(dropped > 0)
    val left = spark.read.parquet(out)
    assert(left.filter(col("date") < cutoff).count() === 0)
    val expectedLeft = DatePartition.withDateParts(df)
      .filter(col("date") >= cutoff).count()
    assert(left.count() === expectedLeft)
  }

  test("S6 retention rejects a non-ISO cutoff and skips non-date directories") {
    import graft.pipeline.Maintenance
    import spark.implicits._
    val out = Files.createTempDirectory("graft_retain").toString
    // one row on each of 2024-01-15, 2024-05-15 and 2024-09-15
    DatePartition.appendPartitioned(Seq(1705276800000L, 1715731200000L,
      1726358400000L).toDF("clientTimestamp"), out)
    val stray = new java.io.File(s"$out/year=2024/month=01/day=15__graft_old")
    assert(stray.mkdirs())
    def rows = spark.read.parquet(out).count()
    // character-wise, "2024-05-15" < "2024-1-8" because '0' < '1': a
    // malformed cutoff would drop the May and September partitions
    for (bad <- Seq("2024-1-8", "2024-01-8", "20240108", "2024-02-30"))
      intercept[IllegalArgumentException](
        Maintenance.dropPartitionsBefore(spark, out, bad))
    assert(rows === 3 && stray.exists())
    // a directory whose name forms no date is never dropped as one
    assert(Maintenance.dropPartitionsBefore(spark, out, "2024-06-01") === 2)
    assert(rows === 1 && stray.exists())
  }

  test("S6 compression codec is a sink parameter (zstd files land and read back)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_zstd").toString
    val df = Seq((1L, 1704067200000L)).toDF("id", "clientTimestamp")
    DatePartition.appendPartitioned(df, out, compression = "zstd")
    def dirs(f: java.io.File) = f.listFiles().filter(_.isDirectory)
    val files = dirs(new java.io.File(out))
      .flatMap(dirs).flatMap(dirs).flatMap(_.listFiles())
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")), files.mkString(","))
    assert(spark.read.parquet(out).count() === 1)
  }

  test("S6 schema evolution: a new envelope field lands and reads back with mergeSchema") {
    import spark.implicits._
    // a long-lived event table gains fields over its lifetime; Hive-style
    // parquet layout supports additive evolution via mergeSchema on read
    val out = Files.createTempDirectory("graft_evolve").toString
    val v1 = Seq((1L, 1704067200000L)).toDF("id", "clientTimestamp")
    val v2 = Seq((2L, 1704067200000L, "eu-west"))
      .toDF("id", "clientTimestamp", "region") // the new field
    DatePartition.appendPartitioned(v1, out)
    DatePartition.appendPartitioned(v2, out)
    val back = spark.read.option("mergeSchema", "true").parquet(out)
    assert(back.columns.contains("region"))
    val rows = back.select("id", "region").as[(Long, Option[String])]
      .collect().toMap
    assert(rows(1L) === None)            // old rows: null for the new field
    assert(rows(2L) === Some("eu-west")) // new rows carry it
  }

  test("T9 date derivation matches the notebook formula") {
    import spark.implicits._
    val df = Seq(1704067200000L, 1706745599000L) // 2024-01-01, 2024-01-31 23:59:59
      .toDF("clientTimestamp")
    val parts = DatePartition.withDateParts(df)
      .select("year", "month", "day").as[(String, String, String)]
      .collect().toSeq
    assert(parts === Seq(("2024", "01", "01"), ("2024", "01", "31")))
  }

  test("histogram aggregator: bins, merge and cumulative finish") {
    val agg = new HistogramAggregator.BucketHistogram(Array(10, 30, 50))
    val b = Seq(5.0, 10.0, 10.1, 29.0, 51.0, 1000.0)
      .foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(b, Seq(45.0).foldLeft(agg.zero)(agg.reduce))
    val h = agg.finish(merged)
    // le=10: {5,10}; le=30: +{10.1,29}; le=50: +{45}; +Inf: +{51,1000}
    assert(h.cumulative === Seq(2L, 4L, 5L, 7L))
    assert(h.count === 7L)
    assert(h.sum === 5.0 + 10.0 + 10.1 + 29.0 + 51.0 + 1000.0 + 45.0)
  }

  test("S6 recoverCompaction repairs every crash state of the swap") {
    import graft.pipeline.{DirSwap, Maintenance}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_recover").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    val f = new java.io.File(dir)
    val old = new java.io.File(DirSwap.old(dir))
    val tmp = new java.io.File(DirSwap.staged(dir))

    // crash BETWEEN the renames: dir gone, data stranded at the old copy
    old.getParentFile.mkdirs()
    assert(f.renameTo(old))
    assert(Maintenance.recoverCompaction(spark, dir))
    assert(f.exists() && !old.exists())
    assert(spark.read.parquet(dir).count() === 2)

    // crash before any rename: stale tmp beside an intact dir
    Seq((9L, "junk")).toDF("id", "v").write.parquet(tmp.toString)
    assert(!Maintenance.recoverCompaction(spark, dir)) // no rollback needed
    assert(!tmp.exists() && f.exists())
    assert(spark.read.parquet(dir).count() === 2)

    // crash after the second rename, before cleanup: dir + leftover old
    Seq((3L, "c")).toDF("id", "v").write.parquet(old.toString)
    assert(!Maintenance.recoverCompaction(spark, dir))
    assert(f.exists() && !old.exists())

    // and a compaction after recovery runs clean
    Maintenance.compactDir(spark, dir, targetFiles = 1)
    assert(spark.read.parquet(dir).count() === 2)
  }
}
