package graft

import java.sql.Timestamp

import graft.streaming.{EventStream, RetryingSink}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * Structured Streaming specs (SURVEY.md §2.3 B1–B7) with MemoryStream
 * standing in for Kafka, mirroring the reference's integration tests
 * (send → drain → consume → assert) without a broker.
 */
// top-level so Tungsten codegen can reach the accessors (a private inner
// case class forces every encoder projection into interpreted fallback)
private[graft] case class Ev(id: String, name: String, topic: String,
    props: Map[String, String], clientTimestamp: Long, ts: Timestamp)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: String, name: String = "e", topic: String = "t",
      tsMs: Long = 1704067200000L): Ev =
    Ev(id, name, topic, Map("k" -> "v"), tsMs, new Timestamp(tsMs))

  test("B2/B6 micro-batch ingest pipeline: stream in, partitioned valid rows out") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = EventStream.ingestPipeline(source.toDF(), 1704067200123L)
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      source.addData(ev("1"), ev("2"), ev("", name = "invalid"))
      q.processAllAvailable() // B6 graceful drain
      val out = spark.table("ingest_out")
      assert(out.count() === 2) // T2 dropped the invalid row
      val r = out.filter(col("id") === "1")
        .select("year", "month", "day", "serverTimestamp").head()
      assert(r === Row("2024", "01", "01", 1704067200123L))
    } finally q.stop()
  }

  test("B7 watermarked streaming dedup drops at-least-once duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = EventStream.dedupped(source.toDF(), "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      source.addData(ev("a"), ev("a"), ev("b")) // duplicate in one batch
      q.processAllAvailable()
      source.addData(ev("a"), ev("c")) // duplicate across batches
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("id").as[String].collect().sorted
        === Array("a", "b", "c"))
    } finally q.stop()
  }

  test("watermark state eviction: dedup+window state does NOT grow past " +
      "the horizon (q242's pipeline shape)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp)]
    val q = source.toDF().toDF("k", "et")
      .withWatermark("et", "600 seconds")
      .dropDuplicatesWithinWatermark("k")
      .groupBy(window(col("et"), "600 seconds")).count()
      .writeStream.format("memory").queryName("evict_out")
      .outputMode("append").start()
    try {
      val T = 1767225600L
      val batches = 12
      val perBatch = 50
      (0 until batches).foreach { b =>
        source.addData((0 until perBatch).map(i =>
          (b.toLong * perBatch + i, new Timestamp((T + b * 600 + i) * 1000L))): _*)
        q.processAllAvailable()
      }
      val totals = q.recentProgress.toSeq.flatMap(_.stateOperators)
        .map(op => op.operatorName -> op.numRowsTotal)
      assert(totals.nonEmpty, "no state operators reported progress")
      // 600 distinct keys flowed through; an eviction-free dedup would
      // hold all of them. The 600 s horizon keeps ~2 batches of keys
      // (and ~2 unemitted windows) live — state must stay FLAT, far
      // below the key count, at every point in the run.
      val maxState = totals.map(_._2).max
      assert(maxState < 300,
        s"state grew past the watermark horizon: max $maxState rows " +
          s"across ${totals.size} operator readings (${totals.distinct})")
      // and eviction actually ran (rows were removed, not just absent)
      val removed = q.recentProgress.toSeq.flatMap(_.stateOperators)
        .map(_.numRowsRemoved).sum
      assert(removed > 0, "no state rows were ever evicted")
    } finally q.stop()
  }

  test("B1 bounded source admission: maxFilesPerTrigger caps each micro-batch") {
    // the reference's bounded-buffer admission (client/async.go) maps to
    // source-side admission options; demonstrated on the file source —
    // 3 files, cap 1 per trigger, so the engine MUST take >= 3 batches
    val dir = java.nio.file.Files.createTempDirectory("graft_b1").toString
    val one = Seq(("1", "e")).toDF("id", "name")
    for (i <- 1 to 3)
      Seq((i.toString, "e")).toDF("id", "name")
        .coalesce(1).write.mode("append").parquet(dir)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.schema(one.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        { batchSizes += df.count(); () })
      .start()
    try {
      q.processAllAvailable()
      assert(batchSizes.sum === 3)
      assert(batchSizes.size >= 3, s"admission not bounded: $batchSizes")
      assert(batchSizes.forall(_ <= 1))
    } finally q.stop()
  }

  test("B7 idempotent batch sink: replayed batchId replaces, new batchId appends") {
    import graft.streaming.IdempotentSink
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_idem").toString

    // the replay contract directly: same batchId twice == once
    val b0 = Seq(("1", "e"), ("2", "e")).toDF("id", "name")
    IdempotentSink.landBatch(b0, out, 0L)
    IdempotentSink.landBatch(b0, out, 0L) // failure-recovery replay
    assert(spark.read.parquet(out).count() === 2)
    IdempotentSink.landBatch(Seq(("3", "e")).toDF("id", "name"), out, 1L)
    assert(spark.read.parquet(out).count() === 3)

    // end-to-end through the streaming engine
    val out2 = java.nio.file.Files.createTempDirectory("graft_idem2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idem_ck").toString
    val source = MemoryStream[Ev]
    val q = IdempotentSink.start(source.toDF(), out2, ckpt)
    try {
      source.addData(ev("a"), ev("b"))
      q.processAllAvailable()
      source.addData(ev("c"))
      q.processAllAvailable()
      val landed = spark.read.parquet(out2)
      assert(landed.select("id").as[String].collect().sorted === Array("a", "b", "c"))
      // batch is a readable partition column
      assert(landed.select("batch").distinct().count() >= 2)
    } finally q.stop()
  }

  test("A5 windowed event counters aggregate by (window, topic, name)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val base = 1704067200000L
    val q = EventStream.eventCounters(source.toDF(), "ts")
      .writeStream.format("memory").queryName("counter_out")
      .outputMode("complete").start()
    try {
      source.addData(ev("1", tsMs = base), ev("2", tsMs = base + 1000),
        ev("3", tsMs = base + 61000))
      q.processAllAvailable()
      val out = spark.table("counter_out")
        .select("window_start", "n_events").as[(Timestamp, Long)]
        .collect().sortBy(_._1.getTime)
      assert(out.map(_._2).toSeq === Seq(2L, 1L))
    } finally q.stop()
  }

  test("B7 dedup runs on the RocksDB state store (large-state scale path)") {
    // At 100 TB the dedup/window state outgrows executor heaps; RocksDB
    // spills it to local disk. Same operator, one conf switch.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx2 = s2.sqlContext
    val source = MemoryStream[Ev]
    val q = EventStream.dedupped(source.toDF(), "ts")
      .writeStream.format("memory").queryName("rocksdb_dedup_out")
      .outputMode("append").start()
    try {
      source.addData(ev("a"), ev("a"), ev("b"))
      q.processAllAvailable()
      assert(s2.table("rocksdb_dedup_out").count() === 2)
      // the state store in use really is RocksDB
      val metrics = q.lastProgress.stateOperators(0).customMetrics
      assert(metrics.keySet.asScala.exists(_.startsWith("rocksdb")))
    } finally q.stop()
  }

  test("streaming corpus report card accumulates across batches == batch report on the union") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext
    import s2.implicits._
    val mon = graft.streaming.Monitor.attach(s2)
    val source = MemoryStream[(Long, String, String, String)]
    val q = graft.streaming.StreamReport.streamingReport(
      source.toDF().toDF("doc_id", "source", "lang", "text"))
      .writeStream.format("memory").queryName("stream_report_out")
      .outputMode("update").start()
    val b1 = Seq(
      (1L, "web", "en", "the quick brown fox"),
      (2L, "web", "en", "the quick brown fox"), // exact dup of 1
      (3L, "web", "de", "ganz anderes dokument"),
      (4L, "books", "en", "call me ishmael"))
    val b2 = Seq(
      (5L, "web", "en", "the quick brown fox"), // CROSS-batch dup of 1
      (6L, "web", "fr", "tout nouveau texte"), //  new lang, batch 2
      (7L, "books", "en", "call me ishmael"), //   cross-batch dup of 4
      (8L, "books", "en", "a genuinely new book"))
    try {
      source.addData(b1: _*)
      q.processAllAvailable()
      source.addData(b2: _*)
      q.processAllAvailable()
      // memory sink in update mode appends each batch's emission; the
      // FINAL running report per source is the row with max n_docs
      // (monotone in this stream) — Spark's last() over an unordered
      // groupBy is non-deterministic, so ordering by the monotone field
      // keeps the comparison flake-free regardless of sink scan order
      val streamed = s2.table("stream_report_out")
        .groupBy("source").agg(max(struct("n_docs", "n_tokens",
          "n_dup_docs", "n_langs", "mean_quality")).as("r"))
        .select(col("source"), col("r.n_docs"), col("r.n_tokens"),
          col("r.n_dup_docs"), col("r.n_langs"), col("r.mean_quality"))
        .orderBy("source")
        .as[(String, Long, Long, Long, Long, Double)].collect()
      val batch = graft.llm.TextAnalysis.corpusReport(
        (b1 ++ b2).toDF("doc_id", "source", "lang", "text"), "source")
        .orderBy("source")
        .as[(String, Long, Long, Long, Long, Double)].collect()
      assert(streamed === batch)
      // the cross-batch duplicates were actually seen as duplicates
      assert(streamed.map(_._1).toSet === Set("books", "web"))
      assert(batch.find(_._1 == "web").get._4 === 2L) //  docs 2 and 5
      assert(batch.find(_._1 == "books").get._4 === 1L) // doc 7
      // wired through Monitor: the listener tracked this named query
      assert(mon.snapshot("stream_report_out").exists(s =>
        s.batches >= 2 && s.inputRows === (b1.size + b2.size)))
    } finally q.stop()
  }

  test("streaming report fpTtl: expired fingerprints undercount dups conservatively, totals stay exact") {
    // A non-NONE fpTtl switches the query to TimeMode.ProcessingTime,
    // where the engine triggers batches CONTINUOUSLY to advance the
    // clock — processAllAvailable never idles, so these cases poll the
    // memory sink instead. Timing is kept out of the assertions: the
    // in-TTL scenario uses a 1-hour TTL (cannot expire mid-test), the
    // expiry scenario a 1 ms TTL plus a 2 s sleep (cannot survive).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext
    import s2.implicits._
    // --- in-TTL: cross-batch clone IS a dup under an unexpirable TTL ---
    val srcA = MemoryStream[(Long, String, String, String)]
    val qA = graft.streaming.StreamReport.streamingReport(
      srcA.toDF().toDF("doc_id", "source", "lang", "text"),
      fpTtl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofHours(1)))
      .writeStream.format("memory").queryName("ttl_report_in")
      .outputMode("update").start()
    def awaitOn(q: org.apache.spark.sql.streaming.StreamingQuery,
        table: String)(pred: org.apache.spark.sql.DataFrame => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        q.exception.foreach(e => throw e)
        ok = pred(s2.table(table))
        if (!ok) Thread.sleep(200)
      }
      assert(ok, s"timed out waiting on $table")
    }
    try {
      // same-batch clone: dup detection inside one handleInputRows call
      srcA.addData((1L, "web", "en", "the quick brown fox"),
        (2L, "web", "en", "the quick brown fox"))
      awaitOn(qA, "ttl_report_in")(df => !df.filter("n_docs = 2").isEmpty)
      // cross-batch clone, TTL nowhere near expiry: still a dup
      srcA.addData((3L, "web", "en", "the quick brown fox"))
      awaitOn(qA, "ttl_report_in")(df => !df.filter("n_docs = 3").isEmpty)
      val rows = s2.table("ttl_report_in").orderBy("n_docs")
        .as[(String, Long, Long, Long, Long, Double)].collect()
      assert(rows.map(r => (r._2, r._4)).toSeq === Seq((2L, 1L), (3L, 2L)),
        "dups inside the TTL must count, same-batch and cross-batch")
    } finally qA.stop()
    // --- post-expiry: clone counts as first-seen; totals exact; no crash ---
    val srcB = MemoryStream[(Long, String, String, String)]
    val qB = graft.streaming.StreamReport.streamingReport(
      srcB.toDF().toDF("doc_id", "source", "lang", "text"),
      fpTtl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofMillis(1)))
      .writeStream.format("memory").queryName("ttl_report_exp")
      .outputMode("update").start()
    try {
      srcB.addData((1L, "web", "en", "the quick brown fox"))
      awaitOn(qB, "ttl_report_exp")(df => !df.filter("n_docs = 1").isEmpty)
      Thread.sleep(2000) // 1 ms TTL: the fingerprint is long gone
      srcB.addData((2L, "web", "en", "the quick brown fox"))
      awaitOn(qB, "ttl_report_exp")(df => !df.filter("n_docs = 2").isEmpty)
      val last = s2.table("ttl_report_exp").filter("n_docs = 2")
        .as[(String, Long, Long, Long, Long, Double)].head()
      // conservative degradation: undercounted dup, exact totals
      assert(last._4 === 0L, "expired fingerprint must not re-count as dup")
      assert(last._3 === 8L, "token totals stay exact across expiry")
      assert(last._5 === 1L, "lang set keeps TTL NONE and stays exact")
    } finally qB.stop()
  }

  test("gopher gate composes onto the streaming report: gated stream == batch report on gated union") {
    // the rule gate is a stateless scan-stage filter, so it applies to a
    // stream unchanged — the production ingest shape is gate -> report
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext
    import s2.implicits._
    val source = MemoryStream[(Long, String, String, String)]
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.llm.TextAnalysis.gopherFilter(df, minWords = 4L)
    val q = graft.streaming.StreamReport.streamingReport(
      gate(source.toDF().toDF("doc_id", "source", "lang", "text")))
      .writeStream.format("memory").queryName("gated_report_out")
      .outputMode("update").start()
    val b1 = Seq(
      (1L, "web", "en", "the quick brown fox jumps a lot"),
      (2L, "web", "en", "the cat"), //       fails the word-count gate
      (3L, "web", "en", "a fine and proper document here"))
    val b2 = Seq(
      (4L, "web", "de", "the quick brown fox jumps a lot"), // dup of 1, new lang
      (5L, "web", "en", "nope")) //           gated out
    try {
      source.addData(b1: _*); q.processAllAvailable()
      source.addData(b2: _*); q.processAllAvailable()
      val streamed = s2.table("gated_report_out")
        .groupBy("source").agg(max(struct("n_docs", "n_tokens",
          "n_dup_docs", "n_langs", "mean_quality")).as("r"))
        .select(col("source"), col("r.n_docs"), col("r.n_tokens"),
          col("r.n_dup_docs"), col("r.n_langs"), col("r.mean_quality"))
        .as[(String, Long, Long, Long, Long, Double)].collect()
      val batch = graft.llm.TextAnalysis.corpusReport(
        gate((b1 ++ b2).toDF("doc_id", "source", "lang", "text")), "source")
        .as[(String, Long, Long, Long, Long, Double)].collect()
      assert(streamed === batch)
      // the gate actually dropped docs 2 and 5 before they reached state
      assert(batch.head._2 === 3L)
    } finally q.stop()
  }

  test("B7 checkpoint restart: a new query resumes exactly-once from the same checkpoint") {
    import graft.streaming.IdempotentSink
    val src = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
    def addFile(id: String): Unit =
      Seq((id, "e")).toDF("id", "name").coalesce(1)
        .write.mode("append").parquet(src)
    def stream = spark.readStream
      .schema(Seq(("x", "e")).toDF("id", "name").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    addFile("a"); addFile("b")
    val q1 = IdempotentSink.start(stream, out, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()

    addFile("c")
    // a brand-new query object, same checkpoint: must pick up where q1
    // stopped — no reprocessing of a/b, no loss of c
    val q2 = IdempotentSink.start(stream, out, ckpt)
    try { q2.processAllAvailable() } finally q2.stop()

    assert(spark.read.parquet(out).select("id").as[String].collect().sorted
      === Array("a", "b", "c"))
  }

  test("A5 running counters on transformWithState accumulate across batches") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext
    val source = MemoryStream[(String, Double)]
    val q = graft.streaming.TwsCounters.runningCounters(
      source.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("update").start()
    try {
      source.addData(("click", 1.5), ("click", 2.25), ("view", 10.0))
      q.processAllAvailable()
      source.addData(("click", 0.25))
      q.processAllAvailable()
      // memory sink in update mode appends each batch's emissions; the
      // LAST row per key is the running total
      val last = s2.table("tws_out").groupBy("name")
        .agg(org.apache.spark.sql.functions.max("n").as("n"),
          org.apache.spark.sql.functions.max("total_cents").as("cents"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(last("click") === ((3L, 400L))) // 150 + 225 + 25 cents
      assert(last("view") === ((1L, 1000L)))
    } finally q.stop()
  }

  test("stream-stream interval join: clicks attach to impressions within the window only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1704067200000L + s * 1000L)
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    // both sides watermarked — Spark can then bound the join state and
    // evict rows once the other side's watermark passes the interval
    val impDf = imps.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "10 seconds")
    val clkDf = clicks.toDF().toDF("c_ad_id", "click_ts")
      .withWatermark("click_ts", "10 seconds")
    val joined = impDf.join(clkDf,
      col("ad_id") === col("c_ad_id") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr("interval 10 seconds"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(0)))
      clicks.addData((1L, ts(5)), (2L, ts(30))) // ad 2 clicks after the window
      q.processAllAvailable()
      val out = spark.table("ssjoin_out").select("ad_id").as[Long].collect()
      assert(out.toSeq === Seq(1L))
    } finally q.stop()
  }

  test("streaming as-of enrichment == batch AsOfJoin on the q64 fixture (cross-batch state)") {
    import graft.streaming.StreamAsOf
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext

    val e = graft.model.Tables.events(s2, sfDir)
    val purchases = graft.ops.Dedup.latestByKey(
      e.filter(col("event_type") === "purchase"),
      Seq("user_id", "ts"), Seq(col("event_id")))
      .select(col("user_id").as("key"), unix_millis(col("ts")).as("ts_ms"),
        col("value").as("payload"))
    val clicks = e.filter(col("event_type") === "click" && col("user_id") < 100)
      .select(col("user_id").as("key"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"))
    val rows = {
      import s2.implicits._
      StreamAsOf.tagged(purchases, clicks).as[StreamAsOf.Tagged].collect()
    }
    // two micro-batches split at the median timestamp: per-key event-time
    // order holds across the split, so the stream must reproduce the
    // batch operator exactly, with state carrying over the boundary
    val mid = rows.map(_.ts_ms).sorted.apply(rows.length / 2)

    val source = MemoryStream[StreamAsOf.Tagged]
    val q = StreamAsOf.enrich(source.toDF())
      .writeStream.format("memory").queryName("asof_stream_out")
      .outputMode("update").start()
    try {
      source.addData(rows.filter(_.ts_ms <= mid).toSeq)
      q.processAllAvailable()
      source.addData(rows.filter(_.ts_ms > mid).toSeq)
      q.processAllAvailable()
      val streaming = {
        import s2.implicits._
        s2.table("asof_stream_out").as[StreamAsOf.Enriched].collect()
          .map(x => (x.event_id, x.asof_ts, x.asof_payload)).toSet
      }
      val batch = graft.ops.AsOfJoin.asof(
        clicks.select(col("event_id"), col("key").as("user_id"), col("ts_ms").as("ts")),
        purchases.select(col("key").as("user_id"), col("ts_ms").as("ts"), col("payload")),
        "user_id", "ts", "ts")
        .select(col("event_id"), col("asof.ts").as("ats"), col("asof.payload").as("ap"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(streaming === batch)
      assert(streaming.nonEmpty)
    } finally q.stop()
  }

  test("streaming simhash dedup == batch simhashPairs across micro-batches") {
    import graft.streaming.StreamDedup
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext

    val docs = graft.model.Tables.documents(s2, sfDir)
    val batchPairs = graft.llm.DedupOps.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batchPairs.nonEmpty)

    val rows = {
      import s2.implicits._
      docs.select("doc_id", "text").as[(Long, String)].collect()
    }
    val mid = rows.map(_._1).sorted.apply(rows.length / 2)
    val source = MemoryStream[(Long, String)]
    val q = StreamDedup.dupPairs(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("update").start()
    try {
      source.addData(rows.filter(_._1 <= mid).toSeq)
      q.processAllAvailable()
      source.addData(rows.filter(_._1 > mid).toSeq)
      q.processAllAvailable()
      val streaming = s2.table("sdedup_out").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streaming === batchPairs)
    } finally q.stop()
  }

  test("streaming dedup re-emits pairs for a doc re-ingested with changed content") {
    import graft.streaming.StreamDedup
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext
    import s2.implicits._

    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "completely unrelated payload describing kafka offsets and avro schemas"
    val source = MemoryStream[(Long, String)]
    val q = StreamDedup.dupPairs(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sdedup_upd_out")
      .outputMode("update").start()
    try {
      // batch 1: two unrelated docs — no pairs
      source.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      assert(s2.table("sdedup_upd_out").count() === 0)
      // batch 2: doc 1 re-ingested with content identical to doc 2 —
      // the updated fingerprint must pair with doc 2 (the pre-fix code
      // skipped any seen doc_id and silently dropped this)
      source.addData((1L, textB))
      q.processAllAvailable()
      val pairs = s2.table("sdedup_upd_out").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs === Set((1L, 2L, 0)))
      // batch 3: an at-least-once replay (same id, same content) stays a
      // no-op — no new output rows
      val before = s2.table("sdedup_upd_out").count()
      source.addData((1L, textB))
      q.processAllAvailable()
      assert(s2.table("sdedup_upd_out").count() === before)
    } finally q.stop()
  }

  test("A5'' Dataset.observe surfaces pipeline counters without a second pass") {
    // the batch analog of the reference's ok/failed counters: metrics
    // ride the existing job (no extra scan), collected via Observation
    val obs = new org.apache.spark.sql.Observation("ingest_metrics")
    val e = graft.model.Tables.events(spark, sfDir)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("value") > 50, 1L).otherwise(0L)).as("n_high"))
    val total = e.count()
    val row = obs.get
    assert(row("n_rows") === total)
    val expectedHigh = graft.model.Tables.events(spark, sfDir)
      .filter(col("value") > 50).count()
    assert(row("n_high") === expectedHigh)
  }

  test("A5' monitor listener accumulates per-query streaming progress") {
    implicit val sqlCtx = spark.sqlContext
    val mon = graft.streaming.Monitor.attach(spark)
    try {
      val source = MemoryStream[Ev]
      val q = source.toDF().writeStream.format("memory")
        .queryName("monitored_out").outputMode("append").start()
      try {
        source.addData(ev("1"), ev("2"))
        q.processAllAvailable()
        source.addData(ev("3"))
        q.processAllAvailable()
        // listener bus is async — poll briefly for the totals
        val deadline = System.currentTimeMillis() + 10000
        def ok = mon.snapshot("monitored_out").exists(_.inputRows >= 3)
        while (!ok && System.currentTimeMillis() < deadline) Thread.sleep(50)
        val s = mon.snapshot("monitored_out").get
        assert(s.inputRows === 3)
        assert(s.batches >= 2)
      } finally q.stop()
      // terminated must land on the NAME key (QueryTerminatedEvent only
      // carries the id — the listener maps it back)
      val deadline2 = System.currentTimeMillis() + 10000
      def term = mon.snapshot("monitored_out").exists(_.terminated)
      while (!term && System.currentTimeMillis() < deadline2) Thread.sleep(50)
      assert(mon.snapshot("monitored_out").exists(_.terminated))
    } finally spark.streams.removeListener(mon)
  }

  test("A5' monitor sums each trigger phase over the query's triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mon = graft.streaming.Monitor.attach(spark)
    try {
      val source = MemoryStream[Ev]
      val q = source.toDF().writeStream.format("memory")
        .queryName("phased_out").outputMode("append").start()
      try {
        for (id <- Seq("1", "2", "3")) {
          source.addData(ev(id))
          q.processAllAvailable()
        }
        // listener bus is async: poll until the listener has seen every
        // batch the query ran (idle triggers post QueryIdleEvent, not
        // progress), then its totals must be those batches' sums
        def ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        def caughtUp = mon.snapshot("phased_out").exists(s =>
          s.batches == ran.length && s.phaseMs.get("triggerExecution").contains(
            ran.map(_.durationMs.get("triggerExecution").longValue).sum))
        val deadline = System.currentTimeMillis() + 10000
        while (!caughtUp && System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(caughtUp, s"${mon.snapshot("phased_out")} vs ${ran.map(_.durationMs).mkString("; ")}")
        val ph = mon.snapshot("phased_out").get.phaseMs
        val trigger = ph("triggerExecution")
        for (phase <- Seq("addBatch", "queryPlanning", "walCommit")) {
          assert(ph.contains(phase), s"$phase missing from ${ph.keySet}")
          assert(ph(phase) <= trigger, s"$phase ${ph(phase)} ms > trigger $trigger ms")
        }
      } finally q.stop()
    } finally spark.streams.removeListener(mon)
  }

  test("B4/B5 retrying sink: subset retry on failure indexes, then success") {
    val metrics = RetryingSink.newMetrics(spark)
    // Scripted producer (mocks/sender.go shape): attempt 0 fails the
    // rows named 'flaky'; attempt 1 succeeds for everything.
    val producer: RetryingSink.Producer = (attempt, rows) =>
      if (attempt == 0)
        rows.zipWithIndex.collect {
          case (r, i) if r.getAs[String]("name") == "flaky" => i
        }
      else Seq.empty
    val fn = RetryingSink.foreachBatchFn(producer, metrics,
      maxRetries = 3, retryIntervalMs = 1000L, sleeper = _ => ())
    val batch = Seq(("1", "ok"), ("2", "flaky"), ("3", "flaky"), ("4", "ok"))
      .toDF("id", "name").coalesce(1)
    fn(batch, 0L)
    assert(metrics.sent.value === 4)    // all delivered eventually
    assert(metrics.retried.value === 2) // the two flaky rows retried once
    assert(metrics.dropped.value === 0)
  }

  test("B4 retrying sink drops after maxRetries and counts the drop") {
    val metrics = RetryingSink.newMetrics(spark)
    // the sink body runs on executors — capture backoffs via accumulator
    val backoffs = spark.sparkContext.collectionAccumulator[Long]("backoffs")
    val alwaysFailFirst: RetryingSink.Producer = (_, rows) =>
      rows.zipWithIndex.collect {
        case (r, i) if r.getAs[String]("name") == "doomed" => i
      }
    val fn = RetryingSink.foreachBatchFn(alwaysFailFirst, metrics,
      maxRetries = 3, retryIntervalMs = 100L,
      sleeper = ms => backoffs.add(ms))
    val batch = Seq(("1", "ok"), ("2", "doomed")).toDF("id", "name").coalesce(1)
    fn(batch, 0L)
    assert(metrics.sent.value === 1)
    assert(metrics.dropped.value === 1)
    // exponential backoff curve 2^n * interval (client/async.go:255-262)
    import scala.jdk.CollectionConverters._
    assert(backoffs.value.asScala.toList === List(100L, 200L, 400L))
  }

  test("B4 backoff cap + jitter: curve clamps at maxBackoffMs, jitter bounded and decorrelated") {
    val metrics = RetryingSink.newMetrics(spark)
    val backoffs = spark.sparkContext.collectionAccumulator[Long]("backoffs_cap")
    val alwaysFail: RetryingSink.Producer = (_, rows) => rows.indices
    val fn = RetryingSink.foreachBatchFn(alwaysFail, metrics,
      maxRetries = 5, retryIntervalMs = 100L,
      sleeper = ms => backoffs.add(ms), maxBackoffMs = 250L)
    fn(Seq(("1", "doomed")).toDF("id", "name").coalesce(1), 0L)
    import scala.jdk.CollectionConverters._
    // 100, 200 then clamped: 250, 250, 250 — never the raw 400/800/1600
    assert(backoffs.value.asScala.toList === List(100L, 200L, 250L, 250L, 250L))
    assert(metrics.dropped.value === 1)
    // jitter: pure function of (partition, attempt), bounded, and two
    // partitions never share a full jitter sequence (the herd spreads)
    val j = (1 to 4).map(a => RetryingSink.jitterOf(0, a, 1000L))
    assert(j === (1 to 4).map(a => RetryingSink.jitterOf(0, a, 1000L)))
    assert(j.forall(x => x >= 0L && x < 1000L))
    val j2 = (1 to 4).map(a => RetryingSink.jitterOf(1, a, 1000L))
    assert(j !== j2, "partitions 0 and 1 retry in lockstep")
    assert(RetryingSink.jitterOf(7, 3, 0L) === 0L)
    // saturating arithmetic: 2^(attempt-1)·interval overflows Long past
    // attempt ~55 — the delay must clamp at the cap, never go negative
    // (a negative Thread.sleep throws, failing the task mid-sink)
    for (a <- Seq(1, 55, 63, 64, 200)) {
      val d = RetryingSink.backoffMs(a, 1000L, 30000L, 500L)
      assert(d >= 0L && d <= 30500L, s"attempt $a: delay $d")
    }
    assert(RetryingSink.backoffMs(200, 1000L, Long.MaxValue, 500L) === Long.MaxValue)
    assert(RetryingSink.backoffMs(3, 100L, Long.MaxValue, 0L) === 400L,
      "uncapped small attempts keep the reference curve")
  }

  test("B4 retrying sink rejects bad settings when built; maxRetries = 0 sends once") {
    val metrics = RetryingSink.newMetrics(spark)
    val calls = spark.sparkContext.longAccumulator("producer_calls")
    val okProducer: RetryingSink.Producer = (_, rows) => {
      calls.add(rows.size); Seq.empty
    }
    // each bad value fails at construction, before any batch or producer runs
    for ((name, build) <- Seq[(String, () => Any)](
        "maxRetries" -> (() => RetryingSink.foreachBatchFn(okProducer, metrics,
          maxRetries = -1, sleeper = _ => ())),
        "chunkSize" -> (() => RetryingSink.foreachBatchFn(okProducer, metrics,
          chunkSize = 0, sleeper = _ => ())),
        "maxBackoffMs" -> (() => RetryingSink.foreachBatchFn(okProducer, metrics,
          maxBackoffMs = -1L, sleeper = _ => ())))) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(name), e.getMessage)
    }
    assert(calls.value === 0L)
    assert(metrics.sent.value === 0L && metrics.dropped.value === 0L)
    // zero retries is valid: every row goes to the producer exactly once
    val fn = RetryingSink.foreachBatchFn(okProducer, metrics,
      maxRetries = 0, sleeper = _ => ())
    fn(Seq(("1", "a"), ("2", "b"), ("3", "c")).toDF("id", "name").coalesce(1), 0L)
    assert(calls.value === 3L)
    assert(metrics.sent.value === 3L)
    assert(metrics.retried.value === 0L && metrics.dropped.value === 0L)
  }

  test("retry exhaustion is observable from Monitor (the reference's dropped counter)") {
    import graft.streaming.Monitor
    val metrics = RetryingSink.newMetrics(spark)
    val alwaysFail: RetryingSink.Producer = (_, rows) => rows.indices
    Monitor.registerSink("kafka_sink", metrics)
    val fn = RetryingSink.foreachBatchFn(alwaysFail, metrics,
      maxRetries = 2, retryIntervalMs = 1L, sleeper = _ => ())
    fn(Seq(("1", "a"), ("2", "b")).toDF("id", "name").coalesce(1), 0L)
    val snap = Monitor.sinkSnapshot("kafka_sink")
    assert(snap === Some(Monitor.SinkStats(sent = 0L, retried = 4L, dropped = 2L)),
      s"got $snap")
    assert(Monitor.sinkSnapshot("unregistered").isEmpty)
    // query done -> deregister: final counters come back for a last
    // scrape, and the static registry stops holding the entry
    val last = Monitor.unregisterSink("kafka_sink")
    assert(last === snap)
    assert(Monitor.sinkSnapshot("kafka_sink").isEmpty,
      "unregistered sink must leave the registry")
    assert(Monitor.unregisterSink("kafka_sink").isEmpty)
  }

  test("streaming DSIR gate: micro-batches scored against the stored model == batch gate") {
    // The point of persisting the model (DsirIndex): a doc's score
    // depends only on its text and the STORED count tables, so gating
    // is batch-decomposable — streamed micro-batches produce exactly
    // the batch keep set. The inline form (recounting the raw pool per
    // run) has no such property; this is why the serving path loads.
    import graft.llm.DsirIndex
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.model.Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("dsir_stream").toString
    DsirIndex.build(docs, docs.filter(col("doc_id") % 4 === 0), dir,
      buckets = 1024)
    // threshold at the median distinct weight -> both sides non-trivial
    val scores = DsirIndex.score(spark, dir, docs)
    val distinctW = scores.select("lr_scaled").distinct()
      .as[Long].collect().sorted
    val thr = distinctW(distinctW.length / 2)
    val batchKept = scores.filter(col("lr_scaled") >= thr)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept.nonEmpty && batchKept.size < docs.count(),
      "threshold must split the corpus")

    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val mid = rows.map(_._1).sorted.apply(rows.length / 2)
    val landed = scala.collection.mutable.Set.empty[Long]
    val source = MemoryStream[(Long, String)]
    val q = source.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = DsirIndex.score(batch.sparkSession, dir, batch)
          .filter(col("lr_scaled") >= thr)
          .select("doc_id").collect().map(_.getLong(0))
        landed.synchronized { landed ++= kept }; ()
      }
      .outputMode("append").start()
    try {
      source.addData(rows.filter(_._1 <= mid).toSeq)
      q.processAllAvailable()
      source.addData(rows.filter(_._1 > mid).toSeq)
      q.processAllAvailable()
      assert(landed.toSet === batchKept)
    } finally q.stop()
  }

  test("streaming IVF append: at-least-once feed and full fresh-checkpoint replay never double-index") {
    import graft.llm.IvfIndex
    val e = graft.model.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stream_spec").toString
    IvfIndex.build(e.filter(col("vec_id") % 2 === 0), dir, nCells = 4, iters = 1)
    val odd = e.filter(col("vec_id") % 2 === 1)
    // at-least-once feed: the odd half delivered TWICE across 6 files;
    // maxFilesPerTrigger=2 makes micro-batches straddle the two copies,
    // so the same vec_id arrives both within one batch and across batches
    val stage = java.nio.file.Files.createTempDirectory("graft_ivf_stream_feed").toString
    odd.repartition(3).write.mode("append").parquet(stage)
    odd.repartition(3).write.mode("append").parquet(stage)
    def run(): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_stream_ck").toString
      val q = spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "2").parquet(stage)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          IvfIndex.append(b, dir))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val n1 = spark.read.parquet(s"$dir/assignments").count()
    assert(n1 === e.count(), "every vector indexed exactly once")
    val queries = e.filter(col("vec_id") % 100 === 1)
    def searched() = IvfIndex.search(queries, dir, k = 3, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank").collect().toSeq
    val res1 = searched()
    assert(res1.nonEmpty)
    // a crashed-and-restarted ingest replays the WHOLE feed through a
    // fresh checkpoint: the index (and every answer) must not change
    run()
    assert(spark.read.parquet(s"$dir/assignments").count() === n1)
    assert(searched() === res1)
  }
}
